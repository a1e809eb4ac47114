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
    new ObjectMapper().readTree(
      Paths.get(s"$base/failure_events/${RunPaths.fileName(name)}.json").toFile)

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
    Upsert.upsertParquet(spark, wh, Seq.tabulate(12)(i => (runId, s"t$i", 1L))
      .toDF("run_id", "txn_id", "v"), Seq("run_id", "txn_id"), "v")
    assert(GroceryPipeline.reconcile(spark, paths, wh).pass)
    val verdict = new ObjectMapper().readTree(new java.io.File(paths.reconcileFile))
    assert(verdict.get("run_id").asText == runId)
    assert(verdict.get("pass").asBoolean)
    // both are committed with tmp+rename: no .tmp left behind
    Seq(s"$base/failure_events", paths.out).foreach { d =>
      assert(!new java.io.File(d).list().exists(_.endsWith(".tmp")), d)
    }
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

  test("a missing artifact is tried once; other I/O errors are retried") {
    val base = tmp()
    var tries = 0
    intercept[java.io.FileNotFoundException] {
      Retry(1, 0, Retry.transient) {
        tries += 1
        Checks.requireArtifacts(spark, Seq(s"$base/absent.json"), "run-missing")
      }
    }
    assert(tries == 1)
    assert(!Retry.transient(new java.nio.file.NoSuchFileException(s"$base/absent.json")))
    tries = 0
    intercept[java.io.IOException] {
      Retry(1, 0, Retry.transient) {
        tries += 1
        throw new java.io.IOException("reset")
      }
    }
    assert(tries == 2)
    assert(Retry.transient(new java.net.http.HttpTimeoutException("slow")))
  }

  test("every run_id names one distinct directory inside grocery_runs") {
    val base = tmp()
    val runs = Paths.get(base, "grocery_runs")
    val ids = Seq("..", ".", "a/b", "run%41", "runA", "é", "e\u0301", "中", "😀",
      "a b", "run-00001", "seed-00000")
    val dirs = ids.map { id =>
      val paths = RunPaths(base, id)
      paths.mkdirs()
      Paths.get(paths.root)
    }
    dirs.foreach { d =>
      assert(d.normalize.getParent == runs, d)
      assert(Files.isDirectory(d), d)
      assert(d.getFileName.toString.forall(c => c < 0x80 && c != '.'), d)
    }
    assert(dirs.distinct.size == ids.size)
    assert(Files.list(runs).count() == ids.size)
    intercept[IllegalArgumentException](RunPaths(base, ""))
    // benchmark run_ids keep their own names
    assert(dirs.takeRight(2).map(_.getFileName.toString) == Seq("run-00001", "seed-00000"))
    FailureNotifier.notify(base, "grocery_pipeline", "../x", "ingest", 1,
      new RuntimeException("boom"))
    assert(new java.io.File(s"$base/failure_events").list().toSeq ==
      Seq("%2E%2E%2Fx-ingest-1.json"))
    assert(event(base, "../x-ingest-1").get("run_id").asText == "../x")
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

  /** The Spark jobs `f` starts, counted in a job group of its own. */
  private def jobsIn(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("Spark jobs per stage: enrich 0, envelope 0, load 0 or 1, reconcile 1") {
    val base = tmp()
    val wh = s"$base/wh"
    // a first run creates the bucketed warehouse, so the next load
    // commits one bucket
    GroceryPipeline.run(spark, base, wh, "run-first", "ok")
    val paths = RunPaths(base, "run-jobs")
    GroceryPipeline.ingest(spark, paths, "ok")
    GroceryPipeline.validate(spark, paths)
    assert(jobsIn(s"$base/enrich")(GroceryPipeline.enrich(spark, paths)) == 0)
    assert(jobsIn(s"$base/envelope")(GroceryPipeline.writeEnrichedEnvelope(spark, paths, "ok")) == 0)
    // a fresh run appends one file, written on the driver
    assert(jobsIn(s"$base/load")(GroceryPipeline.load(spark, paths, wh)) == 0)
    assert(jobsIn(s"$base/reconcile")(GroceryPipeline.reconcile(spark, paths, wh)) == 1)
    // a redelivered run rewrites its bucket: one job
    assert(jobsIn(s"$base/reload")(GroceryPipeline.load(spark, paths, wh)) == 1)
    assert(spark.read.parquet(wh).filter("run_id = 'run-jobs'").count() == 40)
  }

  test("one txn_id twice in an envelope: the later record loads, 5 of 5") {
    val base = tmp()
    val wh = s"$base/wh"
    GroceryPipeline.run(spark, base, wh, "run-first", "ok")
    def record(txn: String, qty: Int) =
      s"""{"event_time": "2024-03-05T09:00:00.000Z", "txn_id": "$txn", "store_id": "SFO-001",""" +
        s""" "sku": "SKU-APPLE", "quantity": $qty, "unit_price_cents": 199, "tender_type": "cash"}"""
    (1 to 5).foreach { i =>
      val paths = RunPaths(base, s"run-tie$i")
      paths.mkdirs()
      // the later record has the smaller quantity in some runs, the
      // greater in others: order decides, not value
      val (earlier, later) = if (i % 2 == 0) (5, 1) else (1, 5)
      val records = (0 until 12).map(t => record(s"t$t", if (t == 3) earlier else 2)) :+
        record("t3", later)
      Files.write(Paths.get(paths.rawFile),
        s"""{"ok": true, "transactions": [${records.mkString(",")}]}""".getBytes("UTF-8"))
      assert(GroceryPipeline.validate(spark, paths) == 13)
      assert(GroceryPipeline.enrich(spark, paths) == 13)
      GroceryPipeline.load(spark, paths, wh)
      val run = spark.read.parquet(wh).filter(s"run_id = 'run-tie$i'")
      assert(run.count() == 12)
      assert(run.filter("txn_id = 't3'").select("quantity").collect().map(_.getLong(0)).toSeq ==
        Seq(later.toLong), s"run $i")
    }
  }

  test("load reads back the DataFrame enrichment, any run_id (ScalaCheck)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val base = tmp()
    /** The enrichment over Spark's JSON file reader, a distributed job. The
      * staged file is copied first: the reader globs its path, and a
      * run_id may hold glob characters.
      */
    def dataFramePath(paths: RunPaths): DataFrame = {
      val staged = Files.createTempFile(Paths.get(base), "staged", ".ndjson")
      Files.copy(Paths.get(paths.stagedFile), staged, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Enricher.enrich(spark, spark.read.schema(ContractValidator.txnSchema.add("run_id", "string"))
          .json(staged.toString).withColumn("event_time", to_timestamp(col("event_time"))))
        .withColumn("run_id", lit(paths.runId))
    }
    def assertRoundTrip(paths: RunPaths, clue: String): Unit = {
      val batch = GroceryPipeline.enrichedBatch(spark, paths)
      val expected = dataFramePath(paths)
      assert(batch.schema.map(f => (f.name, f.dataType)) == expected.schema.map(f => (f.name, f.dataType)), clue)
      def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val got = rows(batch)
      assert(got.nonEmpty && got == rows(expected), clue)
    }
    // run_ids with quotes, backslashes and non-ASCII text (no '/': a
    // run_id names a directory)
    val runIdGen = Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      4 -> Gen.oneOf("\"", "\\", "'", " ", "-", "{", ":", "é", "ß", "中", "\u00a0", "\u2028", "😀")))
      .map(cs => "run-" + cs.mkString)
    val seeds = (1L to 12L).map(Seed(_))

    // every scenario's PosGenerator envelope that passes validate and enrich
    val passed = Scenario.all.zip(seeds ++ seeds).flatMap { case (scenario, seed) =>
      val runId = runIdGen(Gen.Parameters.default, seed).get + "-" + scenario.name
      val paths = RunPaths(base, runId)
      try {
        GroceryPipeline.ingest(spark, paths, scenario.name, partialPauseMs = 0)
        GroceryPipeline.validate(spark, paths)
        GroceryPipeline.enrich(spark, paths)
        assertRoundTrip(paths, s"$scenario, run_id $runId")
        Some(scenario)
      } catch {
        case _: DataContractError | _: graft.sources.HttpFetch.HttpStatusError => None
      }
    }
    assert(passed.contains(Scenario.Ok) && !passed.contains(Scenario.SchemaDrift) &&
      !passed.contains(Scenario.MalformedJson), passed)

    // staged rows with microsecond event times, null customer_ids, and
    // stores or skus that drop out
    val txnGen = for {
      micros <- Gen.choose(946684800000000L, 1893456000000000L) // 2000 .. 2030
      store <- Gen.oneOf(PosGenerator.stores :+ "LAX-404")
      sku <- Gen.oneOf(PosGenerator.skus)
      qty <- Gen.choose(1L, 50L)
      price <- Gen.choose(0L, 100000L)
      tender <- Gen.oneOf(PosGenerator.tenders)
      customer <- Gen.option(Gen.identifier)
    } yield (micros, store, sku, qty, price, tender, customer)
    seeds.foreach { seed =>
      val runId = runIdGen(Gen.Parameters.default, seed).get
      val txns = Gen.listOfN(25, txnGen)(Gen.Parameters.default, seed).get.zipWithIndex.map {
        case ((micros, store, sku, qty, price, tender, customer), i) =>
          Map[String, Any]("event_time" ->
              java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS).toString,
            "txn_id" -> s"t$i", "store_id" -> store, "sku" -> sku, "quantity" -> qty,
            "unit_price_cents" -> price, "tender_type" -> tender) ++ customer.map("customer_id" -> _)
      }
      val paths = RunPaths(s"$base/staged", runId)
      paths.mkdirs()
      Files.write(Paths.get(paths.stagedFile),
        ContractValidator.toNdjson(txns, runId).getBytes("UTF-8"))
      GroceryPipeline.enrich(spark, paths)
      assertRoundTrip(paths, s"seed $seed, run_id $runId")
    }
  }
}
