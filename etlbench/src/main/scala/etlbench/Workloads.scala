package etlbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ContractValidator, Enricher, GroceryPipeline, RunPaths, Upsert}

/** One closed-loop operation: a pipeline run, or a warehouse batch. */
final case class Op(runId: String, wallS: Double, committedTxns: Long, ok: Boolean,
    detail: String)

/** Everything a workload needs from the harness. `counts` collects the
  * per-layer work counts of a traced pass; untraced passes skip the ones
  * that cost extra work to measure.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val api: PosApi, val tracer: Tracer) {
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val checksum = new Gen.Checksum
  def count(k: String, v: Double): Unit = counts(k) += v
}

/** A workload instance owns one fresh program state (warehouse, database);
  * constructing it plus `prepare()` is the timed set-up. `warmUp()` runs
  * untimed operations outside the schedule, so the measured operations do
  * not pay for class loading, code generation and JIT compilation.
  */
trait Workload {
  def prepare(): Unit
  def warmUp(): Unit
  /** Run the i-th operation of the seeded schedule. */
  def op(i: Int): Op
  /** Compare the program's outputs with the oracle; returns mismatches. */
  def check(): Seq[String]
  def close(): Unit = ()

  /** Oracle self-test: plant one fault in a checked output. "noraise"
    * serves a fault-injected delivery clean; every other kind tampers with
    * the warehouse right before the next `check()`.
    */
  def plant(kind: String): Unit = planted = Some(kind)
  protected var planted: Option[String] = None
  protected def tamper(kind: String): Unit
  protected def applyPlant(): Unit =
    planted.filter(_ != "noraise").foreach { k => tamper(k); planted = None }
}

object Workloads {
  val Names: Seq[String] = Seq("small_runs", "warehouse_jdbc")

  def apply(name: String, ctx: Ctx, instance: Int): Workload = name match {
    case "small_runs" => new SmallRuns(ctx, instance)
    case "warehouse_jdbc" => new WarehouseJdbc(ctx, instance)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  val ContractError = "graft.etl.DataContractError"
  val HttpError = "graft.sources.HttpFetch$HttpStatusError"

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Staged rows (the wire contract's columns) as a DataFrame, the way the
    * enrich stage reads them back: event_time parsed to a timestamp.
    */
  def staged(spark: SparkSession, ts: Iterable[Txn]): DataFrame =
    spark.createDataFrame(ts.map(t => Row(java.time.Instant.ofEpochSecond(t.eventSec).toString,
      t.txnId, t.store, t.sku, t.qty.toLong, t.price.toLong, t.tender, t.customer))
      .toSeq.asJava, ContractValidator.txnSchema)
      .withColumn("event_time", to_timestamp(col("event_time")))

  /** Warehouse rows as ((run_id, txn_id), fact), fetched partition by partition. */
  def facts(df: DataFrame): Iterator[((String, String), Oracle.Fact)] = {
    val cols = Seq("run_id", "txn_id", "event_time", "store_id", "sku", "quantity",
      "unit_price_cents", "revenue_cents", "tender_type", "customer_id", "region", "category")
    df.select(cols.map(col): _*).toLocalIterator().asScala.map { r =>
      def long(i: Int) = r.getAs[Number](i).longValue
      (r.getString(0), r.getString(1)) -> Oracle.Fact(
        r.getTimestamp(2).getTime / 1000L, r.getString(3), r.getString(4), long(5),
        long(6), long(7), r.getString(8), r.getString(9), r.getString(10), r.getString(11))
    }
  }

  def martRows(df: DataFrame): Seq[((Long, String), (Long, Long, Long))] =
    Enricher.dailySalesMart(df).collect().toSeq.map { r =>
      (r.getDate(0).toLocalDate.toEpochDay, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))
    }
}

/** The reference's traffic: 40-transaction runs into a warehouse seeded
  * with many earlier runs, so every `load` rewrites a large table. Of every
  * 20 runs, 2 redeliver an earlier run_id with changed content and 3
  * inject a fault, the fault kinds rotating through all five.
  */
final class SmallRuns(ctx: Ctx, instance: Int) extends Workload {
  import Oracle.diffMart
  import SmallRuns._
  import Workloads._
  private val warehouse = ctx.work.resolve(s"small-$instance").resolve("warehouse")
  private val oracle = new Oracle
  private val plan = new Schedule(ctx.seed)
  private var redelivered: Option[(String, String)] = None
  private val spark: SparkSession = ctx.spark
  private val runsBase: Path = ctx.work.resolve("runs")
  private val tr: Tracer = ctx.tracer

  /** Run one delivery through ingest → validate → enrich → load →
    * reconcile → mart and judge the outcome against `d.expect`. The oracle
    * is updated with what a correct program commits.
    */
  private def pipeline(d: Delivery, root: String): Op = {
    ctx.api.register(d)
    val paths = RunPaths(runsBase.toString, d.runId)
    val wh = warehouse.toString
    var stage = "ingest"
    var mart: Seq[((Long, String), (Long, Long, Long))] = Nil
    var rows = 0L
    val t0 = System.nanoTime()
    val raised: Option[(String, String)] = tr(d.runId, root) {
      try {
        tr(d.runId, "ingest") { GroceryPipeline.ingestHttp(spark, paths, ctx.api.base, d.scenario, n = d.txns.size) }
        stage = "validate"
        rows = tr(d.runId, "validate") { GroceryPipeline.validate(spark, paths) }
        stage = "enrich"
        val enriched = tr(d.runId, "enrich") { GroceryPipeline.enrich(spark, paths) }
        stage = "load"
        tr(d.runId, "load") { GroceryPipeline.load(spark, paths, wh) }
        if (tr.enabled) {
          ctx.count("load.bytes_written", dirBytes(warehouse).toDouble)
          ctx.count("load.batch_bytes", dirBytes(Path.of(paths.enrichedDir)).toDouble)
        }
        stage = "reconcile"
        tr(d.runId, "reconcile") { GroceryPipeline.reconcile(spark, paths, wh) }
        stage = "mart"
        mart = tr(d.runId, "mart") { martRows(spark.read.parquet(wh)) }
        if (tr.enabled) ctx.count("enrich.rows", enriched.toDouble)
        None
      } catch { case e: Exception => Some((stage, e.getClass.getName)) }
    }
    val wall = seconds(t0)
    if (tr.enabled) {
      ctx.count("ingest.bytes", d.body.length.toDouble)
      ctx.count("validate.rows", rows.toDouble)
    }
    ctx.count("ingest.http_retries", (ctx.api.attempts(d) - 1).max(0).toDouble)
    ctx.api.forget(d)
    if (d.expect == Commit) oracle.upsert(d.runId, d.txns)
    val problems = (d.expect, raised) match {
      case (Commit, None) => diffMart(s"mart after ${d.runId}", oracle.martSnapshot, mart)
      case (Commit, Some((s, c))) => Seq(s"${d.runId}: expected commit, $s raised $c")
      case (Raise(s, c), None) => Seq(s"${d.runId} (${d.scenario}): expected $c from $s, nothing raised")
      case (Raise(s, c), Some(got)) =>
        if (got == ((s, c))) { ctx.count("fail.stage_ok", 1); Nil }
        else Seq(s"${d.runId} (${d.scenario}): expected $c from $s, got ${got._2} from ${got._1}")
    }
    deleteTree(runsBase.resolve("grocery_runs").resolve(d.runId))
    Op(d.runId, wall, if (d.expect == Commit && raised.isEmpty) d.txns.size.toLong else 0L,
      problems.isEmpty, problems.mkString("; "))
  }

  def check(): Seq[String] = {
    applyPlant()
    val df = spark.read.parquet(warehouse.toString)
    val (n, first) = Oracle.diffFacts(oracle.facts, facts(df))
    (if (n > 0) Seq(s"warehouse: $n row mismatch(es): ${first.mkString("; ")}") else Nil) ++
      diffMart("warehouse mart", oracle.martSnapshot, martRows(df))
  }

  /** Rewrite the warehouse with one row altered, dropped, or duplicated:
    * the seed warehouse's first row, or for "dup" the last redelivered key.
    */
  protected def tamper(kind: String): Unit = {
    val victim = if (kind != "dup") ("seed-00000", "seed-00000-t000000")
      else redelivered.getOrElse(throw new IllegalStateException("no redelivery ran before the plant"))
    val df = spark.read.parquet(warehouse.toString)
    val hit = col("run_id") === victim._1 && col("txn_id") === victim._2
    val tampered = kind match {
      case "revenue" => df.withColumn("revenue_cents",
        when(hit, col("revenue_cents") + 1).otherwise(col("revenue_cents")))
      case "drop" => df.filter(!hit)
      case "dup" => df.unionByName(df.filter(hit))
    }
    val tmp = Path.of(warehouse.toString + "__planted")
    tampered.write.parquet(tmp.toString)
    deleteTree(warehouse)
    Files.move(tmp, warehouse)
  }

  /** Seed the warehouse with [[SeedRuns]] earlier runs: their rows are
    * staged as NDJSON, then enriched and upserted by the program in one
    * batch.
    */
  def prepare(): Unit = {
    val seedRuns = (0 until SeedRuns).map { j =>
      val runId = f"seed-$j%05d"
      runId -> Gen.txns(Gen.rng(ctx.seed, "seed", j.toLong), runId, RunTxns)
    }
    val seedFile = warehouse.resolveSibling("seed.json")
    Files.createDirectories(seedFile.getParent)
    Files.write(seedFile, Gen.ndjson(seedRuns.flatMap(_._2)))
    val staged = spark.read.schema(ContractValidator.txnSchema).json(seedFile.toString)
      .withColumn("event_time", to_timestamp(col("event_time")))
    val df = Enricher.enrich(spark, staged)
      .withColumn("run_id", regexp_extract(col("txn_id"), "^(.*)-t[0-9]+$", 1))
      .withColumn("inserted_at", current_timestamp())
    Upsert.upsertParquet(spark, warehouse.toString, df, Seq("run_id", "txn_id"), "inserted_at")
    seedRuns.foreach { case (runId, ts) => oracle.upsert(runId, ts) }
  }

  def warmUp(): Unit = (0 until WarmupRuns).foreach { k =>
    val runId = s"warmup-$instance-$k"
    val ts = Gen.txns(Gen.rng(ctx.seed, "warmup", instance * 100L + k), runId, RunTxns)
    val op = pipeline(Delivery(runId, "ok", ts, Gen.envelope(runId, ts), 0, Commit),
      "run")
    require(op.ok, s"warm-up run failed: ${op.detail}")
  }

  def op(i: Int): Op = {
    var d = plan.delivery(i)
    ctx.checksum.add(d)
    if (planted.contains("noraise") && d.expect != Commit) {
      // the fault is not injected, so the run commits where it must raise
      d = d.copy(body = plan.delivery(i, damage = false).body, failures = 0)
      planted = None
    }
    if (d.scenario == "redeliver") redelivered = Some((d.runId, d.txns.head.txnId))
    pipeline(d, if (d.expect == Commit) "run" else "fail")
  }
}

object SmallRuns {
  val RunTxns = 40
  val WarmupRuns = 3
  val SeedRuns = 7500
  val Half = 10
  val Faults: Seq[String] = Seq("retry_500", "down_500", "truncated", "missing_field", "schema_drift")

  /** The seeded schedule of deliveries; lazily extended, deterministic in
    * (seed, index).
    */
  final class Schedule(seed: Long) {
    private val kinds = mutable.ArrayBuffer.empty[String]
    private val targets = mutable.Map.empty[Int, Int] // redelivery -> original
    private val faultOffset = Gen.rng(seed, "fault-offset", 0).nextInt(Faults.size)
    private var faults = 0

    /** A block is two halves of 10 runs: the first half gets one
      * redelivery and two faults, the second one redelivery and one fault
      * (10 % and 15 %), at seeded slots; a redelivery sits in the back
      * half of its half, so an earlier run exists to redeliver.
      */
    private def extend(): Unit = {
      val h = kinds.size / Half
      val r = Gen.rng(seed, "half", h.toLong)
      val half = Array.fill(Half)("ok")
      half(Half / 2 + r.nextInt(Half / 2)) = "redeliver"
      val free = (0 until Half).filter(half(_) == "ok")
      val picks = r.ints(0, free.size).distinct().limit(if (h % 2 == 0) 2L else 1L).toArray.sorted
      picks.foreach { p =>
        half(free(p)) = Faults((faultOffset + faults) % Faults.size); faults += 1
      }
      half.foreach { k =>
        val i = kinds.size
        if (k == "redeliver") {
          val taken = targets.values.toSet
          val candidates = (0 until i).filter(c => kinds(c) == "ok" && !taken(c))
          targets(i) = candidates(r.nextInt(candidates.size))
        }
        kinds += k
      }
    }

    def kind(i: Int): String = { while (kinds.size <= i) extend(); kinds(i) }

    private def runId(i: Int) = f"run-$i%05d"
    private def original(i: Int): IndexedSeq[Txn] =
      Gen.txns(Gen.rng(seed, "run", i.toLong), runId(i), RunTxns)

    def delivery(i: Int, damage: Boolean = true): Delivery = kind(i) match {
      case "ok" =>
        val ts = original(i)
        Delivery(runId(i), "ok", ts, Gen.envelope(runId(i), ts), 0, Commit)
      case "redeliver" =>
        // same run_id: most keys change content, the last 5 are not
        // resent, and 5 new keys appear
        val t = targets(i)
        val r = Gen.rng(seed, "redeliver", i.toLong)
        val old = original(t)
        val ts = old.dropRight(5).map(x => if (r.nextBoolean()) Gen.changed(r, x) else x) ++
          Gen.txns(r, runId(t), 5, from = RunTxns)
        Delivery(runId(t), "redeliver", ts, Gen.envelope(runId(t), ts), 0, Commit)
      case fault =>
        val ts = original(i)
        val r = Gen.rng(seed, "fault", i.toLong)
        val victim = r.nextInt(ts.size)
        val clean = Gen.envelope(runId(i), ts)
        def body(dmg: Gen.Damage) = if (damage) Gen.envelope(runId(i), ts, dmg) else clean
        fault match {
          case "retry_500" => Delivery(runId(i), fault, ts, clean, 1, Commit)
          case "down_500" => Delivery(runId(i), fault, ts, clean, Int.MaxValue,
            Raise("ingest", Workloads.HttpError))
          case "truncated" => Delivery(runId(i), fault, ts,
            if (damage) clean.take(1 + r.nextInt(clean.length - 2)) else clean, 0,
            Raise("validate", Workloads.ContractError))
          case "missing_field" => Delivery(runId(i), fault, ts,
            body(Gen.DropField(victim, "store_id")), 0, Raise("validate", Workloads.ContractError))
          case "schema_drift" => Delivery(runId(i), fault, ts,
            body(Gen.RenameField(victim, "unit_price_cents", "unit_price")), 0,
            Raise("enrich", Workloads.ContractError))
        }
    }
  }
}

/** Enriched batches keyed-upserted through the `graft-warehouse` DSv2
  * connector into embedded Derby, each followed by that run's per-store
  * aggregate read back through the same connector with the filter and
  * aggregate pushed down. About 30 % of each batch redelivers keys of an
  * earlier run with changed content.
  */
final class WarehouseJdbc(ctx: Ctx, instance: Int) extends Workload {
  import WarehouseJdbc._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val db = s"etlbench_${ctx.seed.abs}_$instance"
  private val url = s"jdbc:derby:memory:$db;create=true"
  private val oracle = new Oracle
  private val runs = mutable.ArrayBuffer.empty[(String, Array[Txn])]

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(sql) finally c.close()
  }

  private def enriched(runId: String, ts: Iterable[Txn]): DataFrame =
    Enricher.enrich(spark, Workloads.staged(spark, ts)).withColumn("run_id", lit(runId))

  private def write(df: DataFrame): Unit =
    df.withColumn("inserted_at", current_timestamp())
      .write.format("graft-warehouse").option("url", url).option("dbtable", Table)
      .option("keys", "run_id,txn_id").mode("append").save()

  private def read(): DataFrame =
    spark.read.format("graft-warehouse").option("url", url).option("dbtable", Table).load()

  def prepare(): Unit = {
    exec(Ddl)
    val seedRuns = (0 until SeedRuns).map { j =>
      val runId = f"jseed-$j%03d"
      runId -> Gen.txns(Gen.rng(ctx.seed, "jseed", j.toLong), runId, NewTxns).toArray
    }
    write(seedRuns.map { case (id, ts) => enriched(id, ts) }.reduce(_ unionByName _))
    seedRuns.foreach { case (id, ts) => oracle.upsert(id, ts); runs += id -> ts }
  }

  def warmUp(): Unit = (1 to WarmupBatches).foreach { k =>
    val op = batch(-k)
    require(op.ok, s"warm-up batch failed: ${op.detail}")
  }

  def op(i: Int): Op = batch(i)

  private def batch(i: Int): Op = {
    val runId = if (i < 0) s"jwarm-$instance$i" else f"jrun-$i%05d"
    val r = Gen.rng(ctx.seed, "jbatch", i.toLong)
    val fresh = Gen.txns(r, runId, NewTxns).toArray
    val (tgtId, tgt) = runs(r.nextInt(runs.size))
    val idx = r.ints(0, tgt.length).distinct().limit(RedeliveredTxns.toLong).toArray
    val redo = idx.map(j => Gen.changed(r, tgt(j)))
    if (i >= 0) { ctx.checksum.add(fresh); ctx.checksum.add(redo) }
    val t0 = System.nanoTime()
    val totals = tr(runId, "run") {
      val df = tr(runId, "enrich") { enriched(runId, fresh).unionByName(enriched(tgtId, redo)) }
      tr(runId, "jdbc_write") { write(df) }
      tr(runId, "jdbc_read") {
        val q = read().filter(col("run_id") === runId).groupBy(col("store_id"))
          .agg(count(lit(1)), sum(col("revenue_cents")), sum(col("quantity")))
        if (tr.enabled && q.queryExecution.executedPlan.toString.contains("PushedAggregates"))
          ctx.count("jdbc_read.pushed", 1)
        q.collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      }
    }
    val wall = Workloads.seconds(t0)
    if (tr.enabled) ctx.count("jdbc_write.rows", (fresh.length + redo.length).toDouble)
    oracle.upsert(runId, fresh)
    oracle.upsert(tgtId, redo)
    idx.zip(redo).foreach { case (j, t) => tgt(j) = t }
    // warm-up runs are named per instance; keeping them out of the
    // redelivery pool keeps the schedule identical across instances
    if (i >= 0) runs += runId -> fresh
    val expected = fresh.groupBy(_.store).map { case (s, ts) =>
      s -> ((ts.length.toLong, ts.map(t => t.qty.toLong * t.price).sum, ts.map(_.qty.toLong).sum))
    }
    val problems =
      if (totals == expected) Nil
      else Seq(s"$runId: per-store totals read back $totals, expected $expected")
    Op(runId, wall, fresh.length.toLong + redo.length, problems.isEmpty, problems.mkString("; "))
  }

  def check(): Seq[String] = {
    applyPlant()
    val (n, first) = Oracle.diffFacts(oracle.facts, Workloads.facts(read()))
    (if (n > 0) Seq(s"$Table: $n row mismatch(es): ${first.mkString("; ")}") else Nil) ++
      Oracle.diffMart(s"$Table mart", oracle.martSnapshot, Workloads.martRows(read()))
  }

  protected def tamper(kind: String): Unit = {
    val (runId, ts) = runs.last
    kind match {
      case "revenue" => exec(s"UPDATE $Table SET revenue_cents = revenue_cents + 1 " +
        s"WHERE run_id = '$runId' AND txn_id = '${ts.head.txnId}'")
      case "drop" => exec(s"DELETE FROM $Table WHERE run_id = '$runId' AND txn_id = '${ts.head.txnId}'")
      case other => throw new IllegalArgumentException(s"plant '$other' does not apply to $Table")
    }
  }

  override def close(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception
}

object WarehouseJdbc {
  val Table = "fct_sales"
  val SeedRuns = 5
  /** Batch times keep falling for about the first ten batches of a JVM. */
  val WarmupBatches = 8
  val NewTxns = 1400
  val RedeliveredTxns = 600

  /** fct_sales from the reference DDL (sql/init.sql), keyed on
    * (run_id, txn_id), plus the columns the enricher emits.
    */
  val Ddl: String =
    s"""CREATE TABLE $Table (
       |  run_id VARCHAR(64) NOT NULL,
       |  event_time TIMESTAMP NOT NULL,
       |  txn_id VARCHAR(64) NOT NULL,
       |  store_id VARCHAR(16) NOT NULL,
       |  sku VARCHAR(32) NOT NULL,
       |  quantity INT NOT NULL,
       |  unit_price_cents INT NOT NULL,
       |  revenue_cents BIGINT NOT NULL,
       |  tender_type VARCHAR(16) NOT NULL,
       |  customer_id VARCHAR(64),
       |  region VARCHAR(16),
       |  category VARCHAR(32),
       |  inserted_at TIMESTAMP NOT NULL,
       |  PRIMARY KEY (run_id, txn_id))""".stripMargin
}
