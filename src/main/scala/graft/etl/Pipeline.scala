package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Json
import graft.sources.HttpFetch.HttpStatusError

/** Run-scoped artifact layout (reference: grocery_lib/io_utils.py:38-57 —
  * `<base>/grocery_runs/<run_id>/{raw,staged,out}`).
  */
final case class RunPaths(base: String, runId: String) {
  val root: String = s"$base/grocery_runs/$runId"
  val raw: String = s"$root/raw"
  val staged: String = s"$root/staged"
  val out: String = s"$root/out"
  val rawFile: String = s"$raw/transactions.json"
  val stagedFile: String = s"$staged/transactions.ndjson"
  val enrichedDir: String = s"$out/enriched"
  val enrichedDocFile: String = s"$out/enriched.json"
  val reconcileFile: String = s"$out/reconcile.json"
  def mkdirs(): Unit =
    Seq(raw, staged, out).foreach(d => Files.createDirectories(Paths.get(d)))
}

/** Retry with fixed backoff (reference: DAG default_args retries —
  * grocery_ingest_dag.py:70-75 etc.). `retryable` picks the failures worth
  * another try; the rest, and fatal errors (OOM, InterruptedException, …),
  * propagate immediately.
  */
object Retry {
  def apply[T](retries: Int, delayMs: Long,
      retryable: Throwable => Boolean = NonFatal(_))(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case NonFatal(e) if attempt < retries && retryable(e) =>
          attempt += 1
          Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Failures that may pass on another try: a 5xx from the source, a
    * timeout, I/O. A contract or data-quality error is deterministic, so
    * retrying it only sleeps.
    */
  def transient(e: Throwable): Boolean = e match {
    case HttpStatusError(status, _) => status >= 500
    case _: java.io.IOException => true // includes HttpTimeoutException
    case _ => false
  }
}

/** Failure-event sink (reference: grocery_lib/notify_ardoa.py:31-70 —
  * POST a UniversalFailureEvent JSON on task failure; never throws).
  * Re-expressed as a local JSON event file per failure; the transport is
  * pluggable, the event shape is the operator.
  */
object FailureNotifier {
  def notify(base: String, pipelineId: String, runId: String, taskId: String,
      tryNumber: Int, e: Throwable): Unit = {
    try {
      val dir = Paths.get(s"$base/failure_events")
      Files.createDirectories(dir)
      val eventId = s"$runId-$taskId-$tryNumber"
      val json =
        s"""{"event_id": ${Json.str(eventId)}, "pipeline_id": ${Json.str(pipelineId)},""" +
          s""" "run_id": ${Json.str(runId)}, "task_id": ${Json.str(taskId)},""" +
          s""" "try_number": $tryNumber,""" +
          s""" "exception_class": ${Json.str(e.getClass.getName)},""" +
          s""" "exception": ${Json.str(Option(e.getMessage).getOrElse(""))}}"""
      Files.write(dir.resolve(s"$eventId.json"), json.getBytes(StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // never mask the original failure
  }
}

/** The grocery pipeline: ingest → validate → enrich → load → reconcile
  * (reference: the 5-DAG chain, SURVEY.md §3.1). One driver program, five
  * stage functions over DataFrames; artifacts between stages mirror the
  * reference's raw JSON doc → staged NDJSON → enriched → warehouse flow.
  *
  * Deviations-as-decisions (SURVEY.md §7.4): the enriched artifact key is
  * `transactions` end-to-end (the reference's enriched/transactions key
  * mismatch is a planted bug); one consistent runId everywhere (the
  * reference's reconcile counts under the wrong run_id).
  */
object GroceryPipeline {

  /** Stage 1 — ingest: fetch the envelope (seeded generator standing in
    * for the HTTP source) and write the raw artifact. partial_write
    * reproduces io_utils.py:76-89: half the bytes, a pause, the rest —
    * the race window a concurrent reader can observe. `midWrite` runs
    * between the two writes (default: sleep `partialPauseMs`); tests pass
    * a latch here to observe the torn state without wall-clock races.
    */
  def ingest(spark: SparkSession, paths: RunPaths, scenario: String,
      n: Int = 40, partialPauseMs: Long = 1500,
      midWrite: Option[() => Unit] = None): Unit = {
    paths.mkdirs()
    val body = PosGenerator.envelopeJson(spark, paths.runId, scenario, n)
    writeRaw(paths, scenario, body, partialPauseMs, midWrite)
  }

  /** Stage 1, HTTP form — the reference's actual boundary: GET
    * `<apiBase>/transactions?run_id&scenario&n` with a 10 s timeout and
    * retryable >= 400 responses (grocery_ingest_dag.py:36-47), then the
    * same raw-artifact write. Whatever body the API returns is written
    * verbatim (malformed_json arrives as invalid JSON with status 200 —
    * the VALIDATE stage owns rejecting it, :46-47).
    */
  def ingestHttp(spark: SparkSession, paths: RunPaths, apiBase: String,
      scenario: String, n: Int = 40, timeoutMs: Long = 10000L,
      retries: Int = 2, retryDelayMs: Long = 100,
      partialPauseMs: Long = 1500,
      midWrite: Option[() => Unit] = None): Unit = {
    paths.mkdirs()
    // URL-encode the params (the reference's httpx params=... does too):
    // a runId with a space/&/# must not truncate or corrupt the query
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val url = s"$apiBase/transactions?run_id=${enc(paths.runId)}" +
      s"&scenario=${enc(scenario)}&n=$n"
    val body = graft.sources.HttpFetch.getWithRetry(url, retries, retryDelayMs, timeoutMs)
    writeRaw(paths, scenario, body, partialPauseMs, midWrite)
  }

  private def writeRaw(paths: RunPaths, scenario: String, body: String,
      partialPauseMs: Long, midWrite: Option[() => Unit]): Unit = {
    val target = Paths.get(paths.rawFile)
    if (scenario == Scenario.PartialWrite.name) {
      // non-atomic on purpose: a reader between the two writes sees
      // truncated JSON (grocery_ingest_dag.py:62-63)
      val half = body.length / 2
      Files.write(target, body.substring(0, half).getBytes(StandardCharsets.UTF_8))
      midWrite.getOrElse(() => Thread.sleep(partialPauseMs))()
      Files.write(target, body.getBytes(StandardCharsets.UTF_8))
    } else commitFile(paths.rawFile, body)
  }

  /** Atomic tmp+rename file commit (io_utils.py:66-73): a reader sees the
    * previous file or the whole new one, never a torn write.
    */
  private def commitFile(target: String, body: String): Unit = {
    val tmp = Paths.get(target + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(target), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage 2 — validate: parse the raw envelope, apply the contract,
    * stage valid txns as line-delimited JSON (grocery_validate_dag.py:
    * 44-79). The envelope is one small document, so all of it happens on
    * the driver: no Spark job.
    */
  def validate(spark: SparkSession, paths: RunPaths): Long = {
    Checks.requireArtifacts(spark, Seq(paths.rawFile), paths.runId)
    val raw = new String(Files.readAllBytes(Paths.get(paths.rawFile)),
      StandardCharsets.UTF_8)
    val txns = ContractValidator.parseEnvelope(raw)
    ContractValidator.assertValid(txns)
    commitFile(paths.stagedFile, ContractValidator.toNdjson(txns, paths.runId))
    txns.size.toLong
  }

  /** Stage 3 — enrich: staged NDJSON → dim joins + revenue → enriched
    * artifact (the reference's declared-but-unwritten fct_sales load,
    * SURVEY.md §2.5 J1). schema_drift surfaces here as a missing
    * unit_price_cents → revenue_cents null → hard error. One write job:
    * the row and null-revenue counts ride along via `observe`, and a
    * failing artifact is deleted before the error is raised, so `load`'s
    * artifact check still stops the run.
    */
  def enrich(spark: SparkSession, paths: RunPaths): Long = {
    Checks.requireArtifacts(spark, Seq(paths.stagedFile), paths.runId)
    val staged = spark.read
      .schema(ContractValidator.txnSchema.add("run_id", "string"))
      .json(paths.stagedFile)
      .withColumn("event_time", to_timestamp(col("event_time")))
    val counts = Observation()
    Enricher.enrich(spark, staged)
      .withColumn("run_id", lit(paths.runId))
      .observe(counts, count(lit(1)).as("rows"),
        count_if(col("revenue_cents").isNull).as("null_revenue"))
      .write.mode("overwrite").parquet(paths.enrichedDir)
    val observed = counts.get
    val nullRevenue = observed("null_revenue").asInstanceOf[Long]
    if (nullRevenue > 0) {
      val out = new org.apache.hadoop.fs.Path(paths.enrichedDir)
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      throw new DataContractError(
        Seq(s"$$.transactions[*].unit_price_cents: $nullRevenue record(s) cannot derive revenue_cents"),
        nullRevenue)
    }
    observed("rows").asInstanceOf[Long]
  }

  /** Stage 3b — K4, the reference's enriched SINGLE-DOC envelope
    * (`{"run_id", "scenario", "enriched": [...]}` —
    * grocery_enrich_dag.py:47-52), written with the atomic commit
    * protocol. `collect_list(struct(*))` folds the run's rows into one
    * document — correct for the reference's per-run batch shape; the
    * parquet artifact from [[enrich]] remains the scale path. Returns
    * the row count inside the envelope.
    */
  def writeEnrichedEnvelope(spark: SparkSession, paths: RunPaths,
      scenario: String): Long = {
    Checks.requireArtifacts(spark, Seq(paths.enrichedDir), paths.runId)
    val enriched = spark.read.parquet(paths.enrichedDir)
    val row = enriched
      .agg(collect_list(struct(enriched.columns.map(col): _*)).as("enriched"))
      .select(
        to_json(struct(
          lit(paths.runId).as("run_id"),
          lit(scenario).as("scenario"),
          col("enriched"))).as("doc"),
        size(col("enriched")).cast("long").as("n"))
      .head()
    commitFile(paths.enrichedDocFile, row.getString(0))
    row.getLong(1)
  }

  /** Stage 4 — load: keyed upsert into the warehouse fact directory
    * (grocery_lib/pg.py:33-60 ON CONFLICT semantics, set-based).
    */
  def load(spark: SparkSession, paths: RunPaths, warehouseDir: String): Unit = {
    Checks.requireArtifacts(spark, Seq(paths.enrichedDir), paths.runId)
    // inserted_at default NOW() (init.sql:29) — orders batches for
    // last-write-wins within the same key
    val enriched = spark.read.parquet(paths.enrichedDir)
      .withColumn("inserted_at", current_timestamp())
    Upsert.upsertParquet(spark, warehouseDir, enriched,
      keys = Seq("run_id", "txn_id"), versionCol = "inserted_at")
  }

  /** Stage 5 — reconcile: count canary under THIS run's id (fixing the
    * reference's wrong-run_id bug, grocery_reconcile_dag.py:17) and write
    * the verdict artifact.
    */
  def reconcile(spark: SparkSession, paths: RunPaths, warehouseDir: String,
      minRows: Long = 10): CheckResult = {
    val mine = spark.read.parquet(warehouseDir)
      .filter(col("run_id") === paths.runId)
    val result = Checks.countCanary(mine, s"run=${paths.runId}", minRows)
    val verdict = s"""{"run_id": ${Json.str(paths.runId)}, "pass": ${result.pass},""" +
      s""" "detail": ${Json.str(result.detail)}}"""
    Files.write(Paths.get(paths.reconcileFile),
      verdict.getBytes(StandardCharsets.UTF_8))
    if (!result.pass) throw new DataQualityError(Seq(result))
    result
  }

  /** Full chained run with per-stage retries + failure events (C1/C4/K8).
    * Only transient failures are retried ([[Retry.transient]]); the
    * failure event's `try_number` counts the tries made. Returns the
    * reconcile verdict.
    */
  def run(spark: SparkSession, base: String, warehouseDir: String,
      runId: String, scenario: String, n: Int = 40): CheckResult = {
    val paths = RunPaths(base, runId)
    def stage[T](taskId: String, retries: Int, delayMs: Long)(f: => T): T = {
      var tries = 0
      try Retry(retries, delayMs, Retry.transient) { tries += 1; f }
      catch {
        case e: Throwable =>
          FailureNotifier.notify(base, "grocery_pipeline", runId, taskId, tries, e)
          throw e
      }
    }
    stage("ingest", retries = 2, delayMs = 100) {
      ingest(spark, paths, scenario, n, partialPauseMs = 100)
    }
    stage("validate", 1, 50) { validate(spark, paths) }
    stage("enrich", 1, 50) { enrich(spark, paths) }
    stage("load", 1, 50) { load(spark, paths, warehouseDir) }
    stage("reconcile", 0, 0) { reconcile(spark, paths, warehouseDir) }
  }
}
