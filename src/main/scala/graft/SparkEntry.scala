package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Enricher, PosGenerator, RetailPipeline}
import graft.queries.{AnnQ, CardQ, CatalogQ, Core, DedupQ, EventsQ, GraphQ, LinkQ, MultimodalQ, ProfileQ, SampleQ, SearchQ, SketchQ, TextQ}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * scale-path extension) expressed over the driver testdata; [[oracleSql]]
  * holds the DuckDB-equivalent ANSI SQL for the hash-match correctness gate.
  * Column names are aliased identically on both sides (the driver compare
  * sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Core.martDailySales(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — hash group-by mart (mart_daily_sales.sql:6-15)
    "q_mart_daily_sales" -> Core.martDailySales,
    // incremental view maintenance — persisted grain-level partial-agg
    // state merged with a delta; oracle is the FULL recompute, so
    // hash-match proves incremental ≡ full
    "q_incremental_mart" -> Core.martDailySalesIncremental,
    // A1/P2 — scan-heavy pricing summary (TPC-H Q1 shape)
    "q_pricing_summary" -> Core.pricingSummary,
    // P1/P4 — cast-boundary projection + pushed filter
    "q_filter_project" -> Core.filterProject,
    // J1 — broadcast dim-enrichment join (implied fct_sales writer)
    "q_join_enrich" -> Core.joinEnrich,
    // J3 — EXISTS as left-semi join
    "q_exists_semi" -> Core.existsSemiJoin,
    // K6 — idempotent-seed anti-join (ON CONFLICT DO NOTHING)
    "q_anti_new_keys" -> Core.antiJoinNewKeys,
    // K5 — keyed last-write-wins upsert merge (ON CONFLICT DO UPDATE)
    "q_upsert_merge" -> Core.upsertMerge,
    // A2/V5 — row-count canary vs threshold
    "q_count_canary" -> Core.countCanary,
    // V3 — not_null column checks (single-scan unpivot)
    "q_not_null_checks" -> Core.notNullChecks,
    // cross-table integrity gate — referential orphans, PK dups, domain
    // violations; the corpus is clean, so deterministic violations are
    // PLANTED (key%100: 0 -> orphaned FK copy under a fresh key,
    // 1 -> duplicated PK) to prove the detector detects
    "q_integrity_check" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val orders = graft.Tables(s, dir, "orders")
      val planted = orders
        .unionByName(orders.filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(500000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(90000000L)))
        .unionByName(orders.filter(pmod(col("o_orderkey"), lit(100)) === 1))
      graft.etl.Checks.integrityReport(planted, "o_orderkey", "o_custkey",
        graft.Tables(s, dir, "customer"), "c_custkey", "o_totalprice")
    }),
    // V4 — non-empty singular test
    "q_non_empty" -> Core.nonEmptyCheck,
    // V1 — contract validation → ordered violations relation
    "q_contract_violations" -> Core.contractViolations,
    // O1 — ordered limit (TakeOrderedAndProject)
    "q_ordered_limit" -> Core.orderedLimit,
    // O2 — windowed top-k per group
    "q_topk_per_group" -> Core.topKPerGroup,
    // P7/S3 — JSON field extraction (JSONB analog)
    "q_json_extract" -> Core.jsonExtract,
    // as-of join (latest purchase at-or-before each click, per user) —
    // union+window implementation, DuckDB's native ASOF JOIN as oracle.
    // Compared at MICROsecond precision: DuckDB reads TIMESTAMP(NANOS)
    // parquet as µs timestamps, so both engines must order identically
    // (no cross-type events collide at µs in this data — verified)
    "q_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // unix_micros over the Tables-normalized timestamp == nanos div 1000
      val ev = graft.Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      graft.ops.AsofJoin.lastBefore(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts_us",
        payload = Seq("event_id", "value"), tieCol = "event_id",
        prefix = "p_")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("p_event_id"), col("p_value"))
    }),
    // skew-safe salted join — must equal the plain join (shared oracle shape)
    "q_salted_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val orders = graft.Tables(s, dir, "orders")
      val cust = graft.Tables(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.ops.SkewJoin.saltedInner(orders, cust, "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 2))).cast("double").as("gross"))
    }),
    // snapshot diff / CDC reconciliation — v2 is a deterministic
    // mutation of orders (key%20: 0 dropped, 1 repriced, 2 duplicated
    // under a new key); one co-partitioned full-outer join classifies
    // added/removed/changed, output is |drift| not |table|
    "q_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val v1 = graft.Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val m = pmod(col("o_orderkey"), lit(20))
      val v2 = v1.filter(m =!= 0)
        .withColumn("o_totalprice", when(m === 1,
          col("o_totalprice") + lit(10.0)).otherwise(col("o_totalprice")))
        .unionByName(v1.filter(m === 2).select(
          (col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus")))
      graft.ops.SnapshotDiff.diff(v1, v2, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .select(col("o_orderkey"), col("change"),
          coalesce(col("old_o_totalprice"), lit(-1.0)).as("old_price"),
          coalesce(col("new_o_totalprice"), lit(-1.0)).as("new_price"),
          coalesce(col("old_o_orderstatus"), lit("")).as("old_status"),
          coalesce(col("new_o_orderstatus"), lit("")).as("new_status"))
    }),
    // multi-level rollup mart with grouping_id
    "q_mart_rollup" -> Core.martRollup,
    // pivot (conditional-aggregation compilation)
    "q_pivot_status" -> Core.pivotStatus,
    // set operations: INTERSECT / EXCEPT / UNION distinct
    "q_set_ops" -> Core.setOps,
    // exact interpolated percentiles per group
    "q_percentiles" -> Core.percentiles,
    // co-located join — both sides bucketed on the join key at write
    // time, SortMergeJoin plans with zero ShuffleExchange
    "q_bucketed_join" -> Core.bucketedJoin,
    // sketches — HLL distinct + approx percentiles (rows-only:
    // engine-specific sketches; SketchQSpec bounds the error)
    "q_approx_distinct" -> SketchQ.approxDistinct,
    "q_approx_percentiles" -> SketchQ.approxPercentiles,
    // sketches — Misra-Gries heavy hitters (top-20 tokens; deterministic
    // here because k=64 exceeds the distinct-token count, so the oracle
    // is the exact top-20 with shed=0)
    "q_frequent_tokens" -> SketchQ.frequentTokens,
    // sketches — ORACLED from-scratch HLL: registers + estimator
    // replayed formula-for-formula in DuckDB (hash-match), the
    // deterministic counterpart to q_approx_distinct's engine sketch
    "q_hll_ndv" -> SketchQ.hllNdv,
    // sketches — rollup served by MERGING persisted per-day register
    // files (1 KB blobs), sharing q_hll_ndv's oracle verbatim
    "q_hll_ndv_compose" -> SketchQ.hllNdvCompose,
    // sketches — ORACLED KMV bottom-k: per-source distinct-shingle
    // estimate from the k smallest rolling-hash values, replayed
    // row_number-for-row_number in DuckDB (hash-match) — the
    // set-operation-capable sketch next to HLL
    "q_kmv_ndv" -> SketchQ.kmvNdv,
    // sketches — THREE rollup levels (type×day, type, total) served
    // from the ONE daily register artifact: distinct counts don't roll
    // up, register max does
    "q_hll_rollup" -> SketchQ.hllRollup,
    // sketches — the register table built by an ACTUAL streaming query
    // (per-micro-batch partial sketches merged register-wise-max into
    // the persisted artifact), serving q_hll_ndv's relation and oracle
    "q_stream_hll" -> SketchQ.streamHll,
    // sketches — the per-source KMV table built by an ACTUAL streaming
    // query (per-micro-batch partial sketches merged bottom-k-union
    // into the persisted table), serving q_kmv_ndv's relation + oracle
    "q_stream_kmv" -> SketchQ.streamKmv,
    // sketches — the same estimate served by merging persisted
    // per-shard sketch arrays, sharing q_kmv_ndv's oracle verbatim
    "q_kmv_ndv_compose" -> SketchQ.kmvNdvCompose,
    // sketches — cross-source overlap/Jaccard matrix from KMV set
    // algebra (union sketch + match fraction), with exact validation
    // columns; the contamination diagnostic without a content join
    "q_kmv_overlap" -> SketchQ.kmvOverlap,
    // sketches — per-source ingest NOVELTY by KMV set algebra (old vs
    // new corpus version sketches; novelty = (1-J)*union)
    "q_kmv_drift" -> SketchQ.kmvDrift,
    // sketches — the matrix served from the SAME persisted shard
    // sketches q_kmv_ndv_compose merges (one sketching pass, two
    // consumers), sharing q_kmv_overlap's oracle verbatim
    "q_kmv_overlap_compose" -> SketchQ.kmvOverlapCompose,
    // §2.10 — tumbling event-time window (batch twin of streaming agg)
    "q_tumbling_window" -> EventsQ.tumblingWindow,
    // §2.10 — the SAME windowed aggregation executed as a real
    // Structured Streaming query (file stream source -> watermarked
    // window agg -> AvailableNow -> memory sink); shares the batch
    // twin's oracle, so streamed ≡ batch is hash-matched per round
    "q_stream_mart" -> EventsQ.streamMart,
    // §2.10 — hopping/sliding event-time windows (batch twin of
    // streaming sliding aggregation; 2 windows per event)
    "q_hopping_window" -> EventsQ.hoppingWindow,
    // §2.10 — the sliding-window aggregation as an actual streaming
    // run; shares q_hopping_window's oracle VERBATIM (all three window
    // shapes — tumbling, sliding, session — now stream in the ledger)
    "q_stream_sliding" -> EventsQ.streamSliding,
    // §2.10 — gap-based sessionization
    "q_sessionize" -> EventsQ.sessionize,
    // §2.10 — the NATIVE session_window operator run as an actual
    // Structured Streaming query (second-floored event times; session
    // windows merge end-inclusively, so the native rule coincides
    // exactly with the batch floor-second diff ≤ 1800 rule); shares
    // q_sessionize's oracle VERBATIM — streamed session state ≡ batch
    "q_stream_sessions" -> EventsQ.streamSessions,
    // binned range join — events matched into their session's interval
    "q_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sessions = EventsQ.sessionize(s, dir)
        .select(col("user_id"), col("session_id"), col("start_s"), col("end_s"))
      val points = graft.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"))
      graft.ops.RangeJoin.pointInInterval(points, sessions,
        keyCols = Seq("user_id"), tsCol = "ts_s",
        startCol = "start_s", endCol = "end_s", binWidth = 3600L)
        .select(col("event_id"), col("user_id"), col("session_id"))
    }),
    // windowed cumulative aggregation
    "q_running_totals" -> EventsQ.runningTotals,
    // cohort retention matrix (first-seen-day cohorts × day offset)
    "q_cohort_retention" -> EventsQ.cohortRetention,
    // time-series regularization — hourly counts with missing hours
    // zero-filled over each type's span (resampling before windowed
    // models; scaffold is metadata-sized)
    "q_gap_fill" -> EventsQ.gapFillHourly,
    // time-series baseline — trailing 7h moving average over the
    // gap-filled series (zeros keep the divisor honest)
    "q_moving_avg" -> EventsQ.movingAverage,
    // ordered-step funnel: view -> click -> purchase, sequential in
    // event time per user
    "q_funnel" -> EventsQ.funnel,
    // SCD type-2 dimension build from the click change stream
    "q_scd2" -> EventsQ.scd2,
    // incremental SCD2 merge: persisted history + delta batch, only
    // touched keys' open rows re-windowed; oracle is the FULL rebuild,
    // so hash-match proves incremental ≡ full
    "q_scd2_incremental" -> EventsQ.scd2Incremental,
    // §2.10/S13 — the streaming SCD2 sink driven end-to-end (file
    // stream source -> foreachBatch type-2 merge into parquet history
    // -> AvailableNow), history read back; shares q_scd2's FULL-rebuild
    // oracle, so streamed ≡ batch rebuild is hash-matched per round
    "q_stream_scd2" -> EventsQ.streamScd2,
    // S2 — the POS API's wire path: the driver-rendered envelope read
    // back by Spark's JSON reader; oracle = the frozen pinned-VALUES
    // capture of the one POS derivation (PosSourcePinned)
    "q_pos_generate" -> ((s, _) => {
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.functions.{col, explode}
      import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
      val envelope = StructType(Seq(
        StructField("transactions", ArrayType(graft.sources.PosDataSource.schema))))
      s.read.schema(envelope)
        .json(s.createDataset(
          Seq(PosGenerator.envelopeJson("verify-run", "ok", 200)))(Encoders.STRING))
        .select(explode(col("transactions")).as("t")).select("t.*")
    }),
    // S1/S2 — DataSource V2 connector form of the POS source (rows-only)
    "q_pos_source" -> ((s, _) => s.read.format("graft-pos")
      .option("run_id", "verify-run").option("scenario", "ok")
      .option("n", 200).option("partitions", 4).load()),
    // S5/K5 — the DSv2 warehouse boundary end-to-end: keyed upsert of an
    // orders slice through df.write.format("graft-warehouse") into
    // embedded Derby (update batch REDELIVERED twice — the connector's
    // idempotence contract), read back through the same connector. The
    // oracle recomputes the converged table state relationally.
    // DSv2 aggregate pushdown — the warehouse answers GROUP BY
    // count/sum/min/max itself (complete pushdown, no Spark-side
    // aggregate; WarehouseDataSourceSpec pins the plan). Money flows as
    // exact integer cents so both engines sum exactly.
    "q_warehouse_agg" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val url = "jdbc:derby:memory:graftwhagg;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        try c.createStatement().execute(
          "CREATE TABLE wh_sales (orderkey BIGINT NOT NULL, " +
            "status VARCHAR(4), cents BIGINT)")
        catch { // X0Y32 = already exists (re-runs in one session)
          case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
        }
      } finally c.close()
      graft.Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("orderkey"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
        .write.format("graft-warehouse")
        .option("url", url).option("dbtable", "wh_sales")
        .option("keys", "orderkey").mode("append").save()
      s.read.format("graft-warehouse")
        .option("url", url).option("dbtable", "wh_sales").load()
        .groupBy(col("STATUS").as("status"))
        .agg(count(lit(1)).as("n"), sum(col("CENTS")).as("total_cents"),
          min(col("CENTS")).as("min_cents"), max(col("CENTS")).as("max_cents"))
    }),
    "q_warehouse_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val url = "jdbc:derby:memory:graftwhq;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        try c.createStatement().execute(
          "CREATE TABLE wh_orders (orderkey BIGINT NOT NULL, " +
            "status VARCHAR(4), totalprice DOUBLE)")
        catch { // X0Y32 = already exists (re-runs in one session)
          case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
        }
      } finally c.close()
      val base = graft.Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("orderkey"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("double")
            .as("totalprice"))
      def save(df: DataFrame): Unit = df.write.format("graft-warehouse")
        .option("url", url).option("dbtable", "wh_orders")
        .option("keys", "orderkey").mode("append").save()
      save(base)
      val upd = base.filter(col("orderkey") % 700 === 0)
        .withColumn("status", lit("U"))
        .withColumn("totalprice",
          (col("totalprice").cast(DecimalType(18, 2)) * 2).cast("double"))
      save(upd)
      save(upd) // redelivery: same batch again — state must not change
      s.read.format("graft-warehouse")
        .option("url", url).option("dbtable", "wh_orders").load()
        .select(col("orderkey").cast("long").as("orderkey"),
          col("status").as("status"),
          col("totalprice").cast("double").as("totalprice"))
    }),
    // J1+A1 — grocery fct enrichment + daily mart over the generated source
    "q_grocery_daily_mart" -> ((s, _) => Enricher.dailySalesMart(
      Enricher.enrich(s, s.read.format("graft-pos")
        .option("run_id", "verify-run").option("scenario", "ok")
        .option("n", 200).load()))),
    // P1+A1 — retail staging cast + mart over the canonical ok seed
    // (computed oracle from the same VALUES fixture)
    "q_retail_mart" -> ((s, _) => RetailPipeline.martDailySales(
      RetailPipeline.stgTransactions(RetailPipeline.seedSource(s, "ok"), "ok"))),
    // text analysis — token counting (whitespace + BPE-ish regex)
    "q_token_stats" -> TextQ.tokenStats,
    // text analysis — quality scoring for corpus filtering
    "q_quality_score" -> TextQ.qualityScore,
    // text analysis — n-gram-heuristic language identification
    "q_lang_id" -> TextQ.langId,
    // text analysis — rolling-hash document fingerprints
    "q_fingerprint" -> TextQ.fingerprint,
    // text analysis — overlapping token-window chunking (training samples)
    "q_chunk_docs" -> TextQ.chunkDocs,
    // deterministic content-hash-ordered stratified sampling per language
    "q_stratified_sample" -> ((s, dir) => SampleQ.stratifiedSample(s, dir)),
    // mixture rebalancing — equal absolute per-source caps (uniformizing
    // the training mix), content-hash-ordered selection
    "q_mixture_sample" -> ((s, dir) => SampleQ.mixtureRebalance(s, dir)),
    // quality-weighted sampling — keep probability = quality score,
    // decided by a content-hash draw (deterministic Bernoulli)
    "q_weighted_sample" -> SampleQ.weightedSample,
    // training-mix scheduling — stride-scheduled curriculum interleave
    // (order KEY, not a single-partition global position)
    "q_interleave" -> ((s, dir) => SampleQ.curriculumInterleave(s, dir)),
    // temperature-scaled mixture (α=0.5 √n rule): per-source TOKEN
    // budgets from exact-decimal weight math, keyed two-phase prefix sum
    "q_temperature_mixture" -> ((s, dir) => SampleQ.temperatureMixture(s, dir)),
    // corpus hygiene — PII redaction (emails/IPs/phones -> typed tokens,
    // per-category counts; PII planted deterministically, see TextQ)
    "q_pii_redact" -> TextQ.piiRedact,
    // embedding storage — symmetric int8 quantization with saturation
    // counts (floor-arithmetic rounding for cross-engine determinism)
    "q_embed_quantize" -> ((s, dir) => graft.ann.Quantize.quantizeInt8(
      graft.Tables(s, dir, "embeddings"), "vec_id", "embedding")),
    // ORACLED PCA of the embedding space: fixed-precision covariance
    // (exact integer micro sums) + 30 deflated power-iteration steps,
    // bit-identical cross-engine via ordered folds
    "q_embed_pca" -> graft.ann.Pca.embedPca,
    // the corpus projected onto the top-4 principal components — the
    // dimensionality-reduction transform, hash-matched per coordinate
    "q_embed_project" -> graft.ann.Pca.embedProject,
    // dedup — exact hash-groupBy over a corpus with planted duplicates
    "q_dedup_exact" -> DedupQ.dedupExact,
    // dedup — exact n-gram Jaccard via shingle inverted index
    "q_jaccard_pairs" -> DedupQ.jaccardPairs,
    // dedup — MinHash+LSH candidates + exact verify (same oracle as exact)
    "q_minhash_lsh" -> DedupQ.minhashLsh,
    // dedup — exact-substring pairs (verbatim 16-token runs, boilerplate
    // windows shed at df>64 by contract)
    "q_substring_dups" -> DedupQ.substringDups,
    // exact maximal shared verbatim runs (suffix-array-class result via
    // aligned-window chaining; longest run + run count per pair)
    "q_substring_runs" -> DedupQ.substringRuns,
    // dedup — SimHash hamming<=3 pairs (rows-only: engine-specific bits)
    "q_simhash_pairs" -> DedupQ.simhashPairs,
    // dedup — SimHash over the pinned fixture corpus (hash-match oracle:
    // DuckDB recomputes the pair/hamming relation from the pinned
    // fingerprints; DedupSpec guards engine/fixture drift)
    "q_simhash_fixture" -> DedupQ.simhashFixturePairs,
    // dedup — connected-component duplicate clusters (label propagation)
    "q_dedup_clusters" -> DedupQ.dedupClusters,
    // dedup — the same clusters over a duplicate-heavy planting (40/25
    // verbatim copies per ≡1/≡2 mod-250 doc): the gate's CONTRACT
    // branch under a hash-match oracle (r18 — the driver corpora only
    // ever exercise the skip branch), with the branch decision itself
    // `require`d inside the member
    "q_dedup_clusters_dupheavy" -> DedupQ.dedupClustersDupHeavy,
    // dedup — the pruning/recall LEDGER: per formula-replayable banded
    // family (png/jpeg phash, audio, video, simhash fixture), candidates
    // vs the N²/2 baseline and measured recall vs the exact all-pairs
    // relation — the BENCH_NOTES pruning honesty, hash-matched
    "q_dedup_pruning_report" -> DedupQ.dedupPruningReport,
    // dedup — embedding cosine near-dup pairs
    "q_embed_near_dup" -> DedupQ.embedNearDup,
    // dedup — the PRODUCTION selective-threshold regime: sign-LSH
    // bucketed candidates + exact verify at t=0.9 over planted twins
    // (the sub-quadratic cosine-pair path, oracled against exact
    // all-pairs — a single recall miss would hash-mismatch)
    "q_embed_near_dup_selective" -> DedupQ.embedNearDupSelective,
    // the selective regime's DEPLOYMENT shape: persisted corpus bucket
    // index probed by the arriving batch; incremental ≡ full is
    // hash-matched (shares the selective oracle verbatim)
    "q_embed_near_dup_incremental" -> DedupQ.embedNearDupIncremental,
    // the incremental embedding near-dup executed as an ACTUAL streaming
    // query: twins arrive via readStream, each micro-batch probes the
    // persisted bucket index, novel vectors append to corpus + index —
    // streaming ≡ batch ≡ full is hash-matched (selective's oracle)
    "q_stream_embed_dedup" -> DedupQ.streamEmbedDedup,
    // dedup — embedding near-dup clusters (blocked pairs + star contraction)
    "q_embed_clusters" -> DedupQ.embedClusters,
    // the same clusters through the refreshed stage artifact (parquet
    // write + read-back) — builds the embedding-cluster artifact the
    // compose consumers below read; sorts before them so their bench
    // samples are build-free. Shares q_embed_clusters' oracle
    "q_embed_clusters_staged" -> DedupQ.embedClustersStaged,
    // SemDeDup — semantic dedup by cluster-representative selection:
    // keep the highest-quality doc per embedding cluster
    "q_semdedup" -> DedupQ.semDedup,
    // SemDeDup composed from the prebuilt embedding-cluster artifact —
    // the one-build-many-consumers serving shape (same oracle)
    "q_semdedup_compose" -> DedupQ.semDedupCompose,
    // dedup/hygiene — test-set decontamination via 8-gram benchmark overlap
    "q_decontaminate" -> DedupQ.decontaminate,
    // dedup — incremental batch-vs-corpus near-dup via the persistable
    // band index (daily-ingest shape)
    "q_incremental_dedup" -> DedupQ.incrementalDedup,
    // forget (right-to-be-forgotten) — the cluster artifact PATCHED
    // after a deletion batch (blast-radius-bounded repair; untouched
    // clusters pass through); oracle = full closure rebuild on the
    // filtered corpus — incremental ≡ full is the gate
    "q_forget_clusters" -> DedupQ.forgetClusters,
    // forget — the curation verdict over the forgotten corpus composed
    // from the patched artifact (deletion propagated end-to-end:
    // candidate set, decontamination benchmark slice, representative
    // election); oracle = the D9 verdict CTEs on the filtered corpus
    "q_forget_verdict" -> DedupQ.forgetVerdict,
    // forget — the persisted band index patched by one anti-join, then
    // the daily-ingest incremental dedup served from it; oracle = exact
    // batch-touching pairs over the filtered corpus (a deleted doc can
    // never resurface as a dedup witness)
    "q_forget_index" -> DedupQ.forgetIndex,
    // forget — the EMBEDDING serving artifact: the persisted cosine
    // bucket index patched by one anti-join, then the incremental
    // selective near-dup served from it; oracle = exact all-pairs
    // selective replay over the filtered corpus (a deleted vector can
    // never resurface as a dedup witness)
    "q_forget_cosidx" -> DedupQ.forgetCosidx,
    // forget — the SAME repair over the EMBEDDING cluster artifact
    // (blocked-cosine pairs through the callback): modality genericity
    // in the ledger; oracle = embed closure rebuilt on filtered vectors
    "q_forget_embed" -> DedupQ.forgetEmbed,
    // forget — the repair over the IMAGE pHash cluster artifact: the
    // callback decodes ONLY the affected clusters' surviving assets;
    // oracle = the image closure formula-replayed on the filtered corpus
    "q_forget_image" -> DedupQ.forgetImage,
    // forget — the SKETCH member of the D18 gate: the sharded KMV
    // artifact patched by re-sketching only affected (source, shard)
    // groups; untouched shard rows pass through byte-identical
    "q_forget_kmv" -> SketchQ.forgetKmv,
    // forget — the deletion feed as an ACTUAL streaming query: each
    // micro-batch patches the persisted artifact via forgetSink behind
    // the crash-safe swap; shares q_forget_clusters' oracle VERBATIM
    "q_stream_forget" -> DedupQ.streamForget,
    // forget — the deletion feed through the TRANSACTIONAL store: each
    // micro-batch publishes a new manifest version of the patched
    // labels; final version ≡ full rebuild (q_forget_clusters' oracle)
    "q_stream_publish_forget" -> DedupQ.streamPublishForget,
    // text analysis — Gopher-style duplicate-n-gram repetition scoring
    "q_repetition" -> TextQ.repetition,
    // text analysis — tf×(N/df) rarity-weighted top terms per document
    "q_top_terms" -> TextQ.topTerms,
    // text analysis — vocabulary coverage curve: corpus-token share of
    // the top-k types (tokenizer-vocab sizing; all-integer to the end)
    "q_vocab_coverage" -> TextQ.vocabCoverage,
    // text analysis — bigram-LM mean log-prob scoring (perplexity filter)
    "q_lm_score" -> TextQ.lmScore,
    // text quality — character-distribution entropy (gibberish signal;
    // round-then-exact-DECIMAL-sum ln contract as q_lm_score)
    "q_char_entropy" -> TextQ.charEntropy,
    // corpus diversity — per-doc novel-trigram ratio (grams appearing
    // in no other doc; integer-exact)
    "q_novelty" -> TextQ.novelty,
    // tokenizer construction — BPE merge training over the distinct-word
    // frequency table (rows-only: the loop is data-dependent; BpeSpec
    // pins it against a scalar reference trainer exactly)
    "q_bpe_train" -> TextQ.bpeTrain,
    "q_bpe_train_batched" -> TextQ.bpeTrainBatched,
    "q_bpe_train_incremental" -> TextQ.bpeTrainIncremental,
    "q_bpe_train_auto" -> TextQ.bpeTrainAuto,
    // tokenizer application — per-doc BPE token counts via the
    // once-encoded distinct-word table (rows-only; BpeSpec round-trips)
    "q_bpe_encode" -> TextQ.bpeEncode,
    // tokenizer fixture — encode-under-PINNED-merges over the pinned
    // fixture corpus: the hash-matched twin of the two rows-only BPE
    // members (the real merge folds run engine-side; DuckDB replays
    // the stats from the pinned per-word encodings)
    "q_bpe_fixture" -> TextQ.bpeFixture,
    // corpus statistics — windowed PMI co-occurrence pairs (word2vec/
    // PPMI preprocessing)
    "q_pmi_pairs" -> TextQ.pmiPairs,
    // profiling — ANALYZE-style exact column stats (count/nulls/ndv/
    // min/max), one column-pruned pass per column
    "q_column_stats" -> ProfileQ.columnStats,
    // profiling — exact equi-width 10-bucket histogram of
    // l_extendedprice (CBO/data-quality input)
    "q_histogram" -> ProfileQ.histogram,
    // profiling — per-group z-score anomaly gate (exact decimal moments
    // => bit-deterministic cut, fully oracled)
    "q_outliers" -> ProfileQ.outliers,
    // profiling — winsorized robust moments (exact interpolated p05/p95
    // clip, decimal-exact clipped mean)
    "q_winsorized" -> ProfileQ.winsorized,
    // preprocessing — per-type value deciles (rank-exact ntile)
    "q_deciles" -> ProfileQ.deciles,
    // retrieval — BM25-ranked keyword search (inverted-index workload)
    "q_bm25_search" -> SearchQ.bm25Search,
    // hybrid retrieval — BM25 + dense-cosine lists fused by
    // reciprocal-rank fusion (rank-only combination, no calibration)
    "q_hybrid_search" -> SearchQ.hybridSearch,
    // weak supervision — seed-clamped label propagation over the
    // cosine similarity graph (integer-exact => fully oracled)
    "q_label_prop" -> GraphQ.labelProp,
    // graph centrality — integer fixed-point PageRank over the cosine
    // similarity graph (all-BIGINT arithmetic => fully oracled, rounds
    // unrolled as CTEs)
    "q_pagerank" -> GraphQ.pageRank,
    // graph local density — exact per-node triangle counts via
    // degree-oriented wedge counting (all-integer => fully oracled)
    "q_triangles" -> GraphQ.triangles,
    // record linkage — blocked fuzzy entity-resolution join (first-token
    // + length-band blocking, exact levenshtein<=1 verify)
    "q_fuzzy_join" -> LinkQ.fuzzyJoin,
    // corpus reweighting — DSIR-style importance scores (target-vs-raw
    // bigram-LM log ratio per doc; 6dp-DECIMAL exact contract)
    "q_dsir_weights" -> TextQ.dsirWeights,
    // drift monitoring — per-source unigram KL + exact total variation
    // vs the corpus distribution
    "q_token_drift" -> TextQ.tokenDrift,
    // drift monitoring — embedding-space twin of q_token_drift: each
    // label's centroid cosine vs the corpus mean, exact decimal sums
    // end to end (cosine of sums ≡ cosine of means by scale invariance)
    "q_embed_drift" -> ProfileQ.embedDrift,
    // join-strategy diagnostic — per-key frequency skew profile from
    // the compressed counts-of-counts distribution
    "q_key_skew" -> ProfileQ.keySkew,
    // content-hash deterministic train/val/test split assignment
    "q_split_assign" -> TextQ.splitAssign,
    // leakage-safe split — near-dup clusters move to one split together
    // (split key = cluster representative's content hash)
    "q_split_leakage_safe" -> DedupQ.splitLeakageSafe,
    // the split composed from the prebuilt text-cluster artifact —
    // re-cutting a split pays one join, not the clustering pass
    "q_split_leakage_safe_compose" -> DedupQ.splitLeakageSafeCompose,
    // curation dashboard — per-source volume/quality/keep/canonical
    // report; every input stage is independently oracled
    "q_corpus_report" -> DedupQ.corpusReport,
    // the dashboard composed from the prebuilt text-cluster artifact
    // (same oracle; refresh pays joins only)
    "q_corpus_report_compose" -> DedupQ.corpusReportCompose,
    // curation — cross-source contamination matrix: shared near-dup
    // clusters + cross-pair counts per source pair (all-integer)
    "q_cross_source_dups" -> DedupQ.crossSourceDups,
    // the matrix composed from the prebuilt cluster artifact
    "q_cross_source_dups_compose" -> DedupQ.crossSourceDupsCompose,
    // training-sequence packing (distributed two-phase prefix sum)
    "q_pack_sequences" -> TextQ.packSequences,
    // the attention-mask manifest: per-sequence clipped document spans
    // (block-diagonal masking for packed training)
    "q_pack_spans" -> TextQ.packSpans,
    // training-shard export flagship — pack, shard, write size-bounded
    // partitioned files, manifest aggregated from reading the files back
    "q_export_manifest" -> TextQ.exportManifest,
    // NO-SPLIT bin packing (bucket-local next-fit with sequential bin
    // state — each doc whole in one fixed-capacity bin)
    "q_pack_bins" -> TextQ.packBins,
    // dedup/text — the composed corpus-curation verdict (flagship of the
    // training-data extension layer)
    "q_corpus_filter" -> DedupQ.corpusFilter,
    // curation verdict with the IMAGE, AUDIO and VIDEO near-dup
    // canonical bits conjoined (pHash/aHash/vHash clusters feed the
    // keep decision; undecodable assets fail their modality bit) — the
    // multimodal twin of q_corpus_filter, full modality matrix
    "q_corpus_filter_mm" -> DedupQ.corpusFilterMm,
    // the mm verdict composed from ALL FOUR persisted cluster artifacts
    // (text + image + audio + video) — the serving shape; same oracle
    "q_corpus_filter_mm_compose" -> DedupQ.corpusFilterMmCompose,
    // per-source curation dashboard with the image columns (canonical /
    // undecodable counts) — the multimodal twin of q_corpus_report
    "q_corpus_report_mm" -> DedupQ.corpusReportMm,
    // the mm dashboard composed from the SAME two persisted artifacts
    // the composed verdict uses — the serving shape; same oracle
    "q_corpus_report_mm_compose" -> DedupQ.corpusReportMmCompose,
    // the same verdict composed from the PERSISTED cluster-label stage
    // artifact (parquet write + read-back) — the artifact-per-stage
    // shape a 100 TB curation run uses; shares the inline twin's oracle
    "q_corpus_filter_staged" -> DedupQ.corpusFilterStaged,
    // compose-only: the verdict joined from the PREBUILT cluster
    // artifact — what a re-tuned downstream pays when the expensive
    // stage is already materialized (same oracle as inline/staged).
    // Named to sort AFTER q_corpus_filter_staged so the bench's sorted
    // order builds the artifact in the staged query, keeping every
    // compose sample build-free
    "q_corpus_filter_staged_compose" -> DedupQ.corpusFilterCompose,
    // the verdict composed through the TRANSACTIONAL artifact store:
    // cluster artifact published behind the manifest pointer, path
    // resolved via Publish.current — same oracle as q_corpus_filter
    "q_publish_verdict" -> DedupQ.publishVerdict,
    // the DATASET CARD: 16 corpus-level metrics, each from an
    // independently-oracled stage, in one (metric, value) artifact
    "q_data_card" -> CardQ.dataCard,
    // the card through the TRANSACTIONAL store: versioned next to the
    // cluster labels it summarizes (one manifest pointer), resolved
    // via Publish.current — shares q_data_card's oracle verbatim
    "q_data_card_published" -> CardQ.dataCardPublished,
    // the card maintained from per-batch PARTIAL AGGREGATION STATE
    // (mergeable sums / sets / decimal quality / KMV bottom-k) and
    // finalized by a state-sized merge — incremental ≡ full is
    // hash-matched (shares q_data_card's oracle verbatim)
    "q_data_card_incremental" -> CardQ.dataCardIncremental,
    // what today's ingest changed in the verdict: added / keep_flipped
    // / canonical_moved per doc, old corpus = minus the arrival batch
    "q_verdict_diff" -> DedupQ.verdictDiff,
    // similarity search — exact cosine top-k baseline
    "q_ann_topk" -> AnnQ.bruteTopK,
    // similarity search — cosine top-k over int8 codes (exact integer
    // dots => deterministic, fully oracled quantized serving path)
    "q_ann_topk_quant" -> AnnQ.bruteTopKQuantized,
    // §2.10 — the quantized serving sink driven end-to-end (persisted
    // int8 code table, float query vectors via readStream, foreachBatch
    // quantize-and-rank into a keyed parquet upsert, AvailableNow);
    // shares q_ann_topk_quant's oracle, so stream-served ≡ batch
    // ranking is hash-matched per round
    "q_stream_ann_serve" -> AnnQ.streamAnnServe,
    // similarity search — sign-LSH bucketed top-k (rows-only: approximate)
    "q_ann_lsh" -> AnnQ.lshTopK,
    // multi-probe LSH: 4x smaller corpus-side index, Hamming-1 query
    // probing buys the recall back (rows-only; fixture twin oracled)
    "q_ann_lsh_probe" -> AnnQ.lshProbeTopK,
    // similarity search — IVF coarse-quantized top-k (rows-only)
    "q_ann_ivf" -> AnnQ.ivfTopK,
    // similarity search — IVF via the PERSISTED index (build + parquet
    // round-trip + cell-pruned probe; rows-only, AnnSpec pins ≡ fresh)
    "q_ann_ivf_indexed" -> AnnQ.ivfTopKIndexed,
    // similarity search — probe-only against the prebuilt IVF index
    // (rows-only; AnnSpec pins probe ≡ fresh IVF)
    "q_ann_ivf_probe" -> AnnQ.ivfTopKProbe,
    // similarity search — IVF-ADC: cell-pruned probe over int8 corpus
    // codes with float queries (rows-only; AnnSpec pins determinism +
    // recall vs the float probe)
    "q_ann_ivf_quant" -> AnnQ.ivfTopKQuantized,
    // similarity search — product quantization: train m×k codebooks,
    // encode (~16× compression), persist, ADC probe (rows-only; PqSpec
    // pins ADC ≡ reconstructed-dot, recall, determinism)
    "q_ann_pq" -> AnnQ.pqTopK,
    // similarity search — PQ ADC probe-only against the prebuilt
    // codebooks + code table (the serving-path cost)
    "q_ann_pq_probe" -> AnnQ.pqTopKProbe,
    // similarity search — IVF-PQ: residual product quantization inside
    // IVF cells (the FAISS IVFx,PQy layout); build+persist+probe
    "q_ann_ivfpq" -> AnnQ.ivfPqTopK,
    // similarity search — IVF-PQ doubly-reduced ADC probe against
    // prebuilt artifacts (cell pruning x m-lookup scoring)
    "q_ann_ivfpq_probe" -> AnnQ.ivfPqTopKProbe,
    // similarity search — OPQ (after Ge et al. OPQ_P): PCA eigen-
    // rotation with greedy SUM-balanced variance allocation (NOT the
    // paper's λ-product criterion — measured worse at this code rate,
    // see Opq.allocate's doc), then PQ in the rotated space
    // (rows-only; PqSpec measures the reconstruction-MSE drop vs raw
    // PQ; the fixture twin hash-matches the rotate+ADC serving path)
    "q_ann_opq" -> AnnQ.opqTopK,
    // OPQ_NP: non-parametric refinement (alternating Lloyd + orthogonal
    // Procrustes over the actual quantization error) — same serving
    // plan as q_ann_opq, better codebook fit (PqSpec gates MSE < OPQ_P)
    "q_ann_opq_np" -> AnnQ.opqNpTopK,
    // PQ ADC serving over the PINNED integer fixture — hash-match
    // oracle: DuckDB replays encode + LUT + rnorm + ranking exactly
    "q_ann_pq_fixture" -> AnnQ.pqFixtureTopK,
    // IVF-PQ residual-ADC serving over the pinned fixture (routing +
    // residual encode + qcdot/LUT scoring replayed by the oracle)
    "q_ann_ivfpq_fixture" -> AnnQ.ivfPqFixtureTopK,
    // IVF cell-routing serving over the pinned fixture — the real
    // ivfProbeIndexed path (route table, isin pruning, per-cell rank);
    // oracle replays routing + ranking exactly
    "q_ann_ivf_fixture" -> AnnQ.ivfFixtureTopK,
    // IVF-ADC serving over the pinned fixture: real int8 quantization
    // (floor-half-up codes) + cell-pruned asymmetric-cosine ranking —
    // the oracle replays scale, codes, routing and ADC end-to-end
    "q_ann_ivfadc_fixture" -> AnnQ.ivfAdcFixtureTopK,
    // OPQ serving over the pinned fixture: a signed-permutation
    // rotation (orthonormal, integer) applied by the real Opq.rotate,
    // then the real PQ encode/ADC — DuckDB replays rotate-then-serve
    "q_ann_opq_fixture" -> AnnQ.opqFixtureTopK,
    // MMR greedy loop over pinned integer relevances/vectors — oracle
    // replays the k selection steps as unrolled CTEs
    "q_ann_mmr_fixture" -> AnnQ.mmrFixtureTopK,
    // LSH bucket/candidate/re-rank serving over pinned integer planes —
    // oracle replays bucket signs, the (table,bucket) join and ranking
    "q_ann_lsh_fixture" -> AnnQ.lshFixtureTopK,
    // the multi-probe expansion over the same pinned planes (oracle
    // additionally replays the bucket-XOR probe set)
    "q_ann_lsh_probe_fixture" -> AnnQ.lshProbeFixtureTopK,
    // the approximate-vs-exact recall ledger: every fixture-oracled
    // serve path's top-5 joined against exact brute force, per-method
    // hits@5 + recall@5 — itself hash-matched (the oracle recomputes
    // each method from the same fixture SQL + the exact ranking)
    "q_ann_recall_report" -> AnnQ.annRecallReport,
    // embedding-quality eval — nearest-class-centroid confusion matrix
    // (exact-decimal prototypes => fully oracled)
    "q_prototype_eval" -> ((s, dir) => graft.ann.Prototype.confusion(
      Tables(s, dir, "embeddings"), "embedding", "label")),
    // contrastive-training data — hard negatives: most-similar vectors
    // OUTSIDE the query's near-dup cluster (false-negative exclusion)
    "q_hard_negatives" -> AnnQ.hardNegatives,
    // hard negatives composed from the prebuilt embedding-cluster
    // artifact — mining pays scan + joins, not the closure (same oracle)
    "q_hard_negatives_compose" -> AnnQ.hardNegativesCompose,
    // curation — token-budget selection: best docs first until the
    // budget fills (two-phase distributed prefix sum, no SinglePartition)
    "q_budget_select" -> ((s, dir) => SampleQ.budgetSelect(s, dir)),
    // retrieval diversification — MMR greedy rerank of the brute
    // candidate list (rows-only: data-dependent greedy loop; MmrSpec
    // pins scalar recompute, λ=1 degeneration, determinism)
    "q_ann_mmr" -> AnnQ.mmrTopK,
    // governance — column-level lineage of the daily mart, read off the
    // analyzed plan (oracle = the pinned expected relation; LineageSpec
    // covers joins/rollup/curation shapes)
    "q_lineage" -> ((s, dir) =>
      graft.plans.Lineage.describeLineage(Core.martDailySales(s, dir))),
    // DSv2 catalog — the same engine addressed purely through SQL names
    // (graft_<root>.`sfX`.orders); scan plan is byte-for-byte the path
    // read's (loadTable delegates to ParquetTable)
    "q_catalog_sql" -> CatalogQ.catalogSql,
    // multimodal — binary media columns + partition-batched decode stub
    "q_multimodal_features" -> MultimodalQ.features,
    // multimodal — metadata-only video frame sampling
    "q_frame_sample" -> MultimodalQ.frameSample,
    // multimodal — REAL container-header decode: PNG/JPEG bytes parsed
    // back to (fmt, width, height, channels); oracle recomputes the
    // expected dims, so hash-match == parse round-trip proof
    "q_image_dims" -> MultimodalQ.imageDims,
    // multimodal — REAL MP4 box walk: ftyp/moov/mvhd/tkhd parsed back
    // to (duration_ms, width, height, n_tracks), corrupted containers
    // quarantined; oracle recomputes + excludes, so hash-match proves
    // parse AND quarantine
    "q_video_meta" -> MultimodalQ.videoMeta,
    // multimodal — REAL WAV chunk walk: RIFF/fmt /data parsed back to
    // PCM stream parameters + duration, junk chunks skipped, corrupted
    // containers quarantined; oracle recomputes + excludes
    "q_audio_meta" -> MultimodalQ.audioMeta,
    // multimodal — REAL pixel-level PNG decode (CRC verify + zlib
    // inflate + unfilter of all 5 filter types) → 64-bit dHash; oracle
    // recomputes the hash straight from the pixel formula, so
    // hash-match proves the full codec round-trip; truncation + CRC
    // corruption rows prove the quarantine
    "q_image_phash" -> MultimodalQ.imagePhash,
    // multimodal — image near-dup pairs: banded pHash candidates +
    // exact Hamming verify (the dedup family's image member)
    "q_image_phash_pairs" -> MultimodalQ.imagePhashPairs,
    // multimodal — JPEG pixel fingerprints through the from-scratch
    // baseline JPEG codec (real Huffman entropy decode + IDCT); the
    // all-ones-quant mosaics decode EXACTLY, so the oracle replays the
    // hash from the block formula — JPEG pixels leave quarantine
    "q_image_jpeg_phash" -> MultimodalQ.imageJpegPhash,
    // JPEG near-dup pairs: the shared banded candidate + Hamming
    // verify machinery over the JPEG-decoded hashes
    "q_image_jpeg_pairs" -> MultimodalQ.imageJpegPairs,
    // JPEG near-dup CLUSTERS via the persisted artifact (banded pairs
    // + star contraction) — the fourth image-family modality member,
    // feeding the dataset card's media-health row
    "q_image_jpeg_clusters" -> DedupQ.imageJpegClusters,
    // multimodal — audio fingerprints through the real WAV PCM codec
    // round-trip (oracle recomputes from the sample formula)
    "q_audio_ahash" -> MultimodalQ.audioAhash,
    // audio near-dup pairs: the shared banded candidate + Hamming
    // verify machinery over the audio fingerprints
    "q_audio_ahash_pairs" -> MultimodalQ.audioAhashPairs,
    // multimodal — video fingerprints through the real MP4 raw-luma
    // codec round-trip (box walk + single-mdat frame payload decode;
    // oracle recomputes from the frame formula) — completes the
    // image/audio/video content-fingerprint matrix
    "q_video_vhash" -> MultimodalQ.videoVhash,
    // video near-dup pairs: the shared banded candidate + Hamming
    // verify machinery over the video fingerprints
    "q_video_vhash_pairs" -> MultimodalQ.videoVhashPairs,
  )

  /** Queries that carry NO DuckDB oracle BY DESIGN — each is approximate
    * or engine-seeded (float k-means, seeded LSH planes, sketches, BPE
    * training) so no SQL engine replays it bit-for-bit. The value names
    * the coverage that stands in for the missing oracle: a hash-matched
    * fixture twin (same serve-path code over pinned integer artifacts)
    * and/or the differential spec that pins its math. EntrySpec asserts
    * this registry is EXACTLY `queries.keySet -- oracleSql.keySet`, so a
    * new query missing its oracle fails the suite instead of silently
    * joining the "approximate" pile, and [[Verify]] dumps the registry
    * as `expected_no_oracle.json` so the driver's ledger can tell
    * "no oracle by design, twinned" from "oracle missing".
    */
  val expectedNoOracle: Map[String, String] = Map(
    "q_ann_ivf" -> "fixture twin q_ann_ivf_fixture (hash-match); AnnSpec pins recall vs q_ann_topk + determinism",
    "q_ann_ivf_indexed" -> "fixture twin q_ann_ivf_fixture; AnnSpec pins saved-index probe ≡ fresh build",
    "q_ann_ivf_probe" -> "fixture twin q_ann_ivf_fixture; AnnSpec pins probe ≡ fresh q_ann_ivf",
    "q_ann_ivf_quant" -> "fixture twin q_ann_ivfadc_fixture (hash-match: quantize + route + ADC end-to-end); hash-matched q_ann_topk_quant covers corpus-scale code ranking; AnnSpec pins cell-routing identity with the float probe",
    "q_ann_ivfpq" -> "fixture twin q_ann_ivfpq_fixture (hash-match); IvfPqSpec pins ADC ≡ reconstructed-dot + determinism",
    "q_ann_ivfpq_probe" -> "fixture twin q_ann_ivfpq_fixture; IvfPqSpec pins probe ≡ rebuild",
    "q_ann_lsh" -> "fixture twin q_ann_lsh_fixture (hash-match); AnnSpec pins recall vs q_ann_topk",
    "q_ann_lsh_probe" -> "fixture twin q_ann_lsh_probe_fixture (hash-match); AnnSpec pins recall + probe-superset vs q_ann_lsh",
    "q_ann_mmr" -> "fixture twin q_ann_mmr_fixture (hash-match); MmrSpec pins the greedy selection",
    "q_ann_pq" -> "fixture twin q_ann_pq_fixture (hash-match); PqSpec pins ADC ≡ reconstructed-dot + recall + determinism",
    "q_ann_opq" -> "fixture twin q_ann_opq_fixture (hash-match: rotate + encode + ADC); PqSpec measures reconstruction-MSE drop vs raw PQ at the same code budget + determinism",
    "q_ann_opq_np" -> "fixture twin q_ann_opq_fixture (hash-match: the identical rotate + encode + ADC serving path); PqSpec gates registration on NP MSE strictly below parametric OPQ at the same (m,k), pins basis orthonormality, bit-determinism of the alternating train, and the planted-rotation Procrustes recovery",
    "q_ann_pq_probe" -> "fixture twin q_ann_pq_fixture; PqSpec pins probe ≡ rebuild",
    "q_approx_distinct" -> "sketch by design; SketchQSpec pins HLL estimate within 5% of exact distinct per group",
    "q_approx_percentiles" -> "sketch by design; SketchQSpec pins approx percentiles within 2% of exact per group",
    "q_bpe_encode" -> "fixture twin q_bpe_fixture (hash-match: the same encodeStats path under pinned merges); BpeSpec pins encode round-trip + merge-for-merge determinism vs a from-scratch reference",
    "q_bpe_train" -> "fixture twin q_bpe_fixture (hash-match; BpeSpec pins the fixture merge table against the trainer); BpeSpec pins merge-for-merge training vs a from-scratch driver reference",
    "q_bpe_train_batched" -> "fixture twin q_bpe_fixture (hash-match; the same merge semantics under pinned merges); BpeSpec pins the batched trainer table-for-table against the from-scratch scalar reference at 200 merges (incl. the exhaustion point and the sequential trainer's prefix) — a wrong batch rule cannot survive 200 rows",
    "q_bpe_train_incremental" -> "fixture twin q_bpe_fixture (hash-match; the same merge semantics under pinned merges); BpeSpec pins the incremental-delta trainer table-for-table against the scalar reference, train AND trainBatched at 200 merges incl. the exhaustion point and the adversarial tiny-alphabet trials — a drifted delta or heap cannot survive the parity rows",
    "q_bpe_train_auto" -> "fixture twin q_bpe_fixture (hash-match; the same merge semantics under pinned merges); BpeSpec pins the driver-side trainer table-for-table against the scalar reference at 200 merges incl. exhaustion and the tiny-alphabet trials, pins the utf8 tie-break comparator against Spark's own string sort, and drives BOTH sides of the trainAuto size gate to the same table",
    "q_simhash_pairs" -> "fixture twin q_simhash_fixture (hash-match); DedupSpec pins band/verify shape",
  )

  /** DuckDB oracle SQL per query. Money math goes through DECIMAL(18,2) in
    * both engines (exact, order-independent) then DOUBLE on output; integer
    * SUMs are cast to BIGINT because DuckDB widens them to HUGEINT.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // compose twins share the inline twin's oracle VERBATIM — identical
    // results from the prebuilt stage artifact IS the contract under test
    "q_split_leakage_safe_compose" -> oracleSqlBase("q_split_leakage_safe"),
    "q_corpus_report_compose" -> oracleSqlBase("q_corpus_report"),
    "q_cross_source_dups_compose" -> oracleSqlBase("q_cross_source_dups"),
    "q_semdedup_compose" -> oracleSqlBase("q_semdedup"),
    "q_hard_negatives_compose" -> oracleSqlBase("q_hard_negatives"),
    "q_embed_clusters_staged" -> oracleSqlBase("q_embed_clusters"),
    "q_corpus_report_mm_compose" -> oracleSqlBase("q_corpus_report_mm"),
    "q_hll_ndv_compose" -> oracleSqlBase("q_hll_ndv"),
    // the published card must serve EXACTLY the inline card's relation
    // through the manifest pointer — same oracle, release shape
    "q_data_card_published" -> oracleSqlBase("q_data_card"),
    // the state-merged card must reproduce the one-pass card to the
    // last rounded digit — same oracle, partial-agg deployment shape
    "q_data_card_incremental" -> oracleSqlBase("q_data_card"),
    // the incremental probe of the persisted bucket index must produce
    // EXACTLY the full selective relation (every true pair involves the
    // batch) — one oracle serves both
    "q_embed_near_dup_incremental" ->
      oracleSqlBase("q_embed_near_dup_selective"),
    // the STREAMED incremental probe (twins via readStream, persisted
    // index, novel-vector ingest) must emit EXACTLY the full selective
    // relation — streaming ≡ batch ≡ full, one oracle for all three
    "q_stream_embed_dedup" ->
      oracleSqlBase("q_embed_near_dup_selective"),
    // the stream-built register table must serve EXACTLY the batch
    // sketch relation (register max is idempotent over micro-batching)
    "q_stream_hll" -> oracleSqlBase("q_hll_ndv"),
    // the stream-built sketch table must serve EXACTLY the batch KMV
    // relation (bottom-k union is idempotent over micro-batching)
    "q_stream_kmv" -> oracleSqlBase("q_kmv_ndv"),
    "q_kmv_ndv_compose" -> oracleSqlBase("q_kmv_ndv"),
    "q_kmv_overlap_compose" -> oracleSqlBase("q_kmv_overlap"),
    // the streaming execution of the tumbling-window mart must produce
    // EXACTLY the batch relation — one oracle serves both
    "q_stream_mart" -> oracleSqlBase("q_tumbling_window"),
    // streamed sliding windows share the batch UNNEST-replay oracle
    "q_stream_sliding" -> oracleSqlBase("q_hopping_window"),
    // the streamed deletion feed must leave the artifact EXACTLY at the
    // full rebuild on the filtered corpus — q_forget_clusters' oracle
    "q_stream_forget" -> oracleSqlBase("q_forget_clusters"),
    // the versioned deletion feed leaves the CURRENT manifest version
    // exactly at the full rebuild — same oracle, third deployment shape
    "q_stream_publish_forget" -> oracleSqlBase("q_forget_clusters"),
    // the stream-served quantized ranking must produce EXACTLY the
    // batch relation — q_ann_topk_quant's oracle serves both
    "q_stream_ann_serve" -> oracleSqlBase("q_ann_topk_quant"),
    // the ANN recall ledger composes each fixture method's oracle SQL
    // VERBATIM (a drift between a method's own oracle and its recall
    // row is impossible by construction) plus the exact ranking
    "q_ann_recall_report" ->
      s"""WITH exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    WITH v(vec_id, emb) AS (VALUES
        |      ${graft.ann.PqFixture.corpusValuesSql}
        |    )
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |       list_dot_product(c.emb, q.emb)
        |         / (sqrt(list_dot_product(c.emb, c.emb))
        |            * sqrt(list_dot_product(q.emb, q.emb))) DESC,
        |       c.vec_id) AS rn
        |    FROM v q JOIN v c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id < 3
        |  ) WHERE rn <= 5
        |), m AS (
        |  SELECT 'ivf' AS method, query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_ivf_fixture")})
        |  UNION ALL SELECT 'ivfadc', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_ivfadc_fixture")})
        |  UNION ALL SELECT 'opq', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_opq_fixture")})
        |  UNION ALL SELECT 'ivfpq', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_ivfpq_fixture")})
        |  UNION ALL SELECT 'lsh', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_lsh_fixture")})
        |  UNION ALL SELECT 'lsh_probe', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_lsh_probe_fixture")})
        |  UNION ALL SELECT 'pq', query_id, neighbor_id
        |  FROM (${oracleSqlBase("q_ann_pq_fixture")})
        |)
        |SELECT m.method, m.query_id,
        | CAST(count(e.neighbor_id) AS BIGINT) AS n_hits,
        | CAST(count(e.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM m LEFT JOIN exact e
        |  ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
        |GROUP BY 1, 2""".stripMargin,
  )

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q_mart_daily_sales" ->
      """SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus AS status,
        | count(*) AS txns,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        | count(DISTINCT o_custkey) AS customers
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // gap fill: per-type hour scaffold via generate_series, left join,
    // zero-fill — mirrors the Spark sequence+explode scaffold
    "q_gap_fill" -> gapFillSql,
    // moving average: the SHARED gap-fill body as the input CTE + one
    // trailing window; integer sums / counts → one exact double division
    "q_moving_avg" ->
      s"""WITH series AS ($gapFillSql)
        |SELECT event_type, hour, n,
        | CAST(sum(n) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS ma7
        |FROM series
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // snapshot diff: the v2 mutation replayed in SQL, full-outer join,
    // IS DISTINCT FROM mirrors the null-safe change test
    "q_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |), v2 AS (
        |  SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 20 = 1
        |        THEN o_totalprice + CAST(10.0 AS DOUBLE)
        |        ELSE o_totalprice END AS o_totalprice,
        |   o_orderstatus
        |  FROM orders WHERE o_orderkey % 20 != 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 20 = 2
        |), j AS (
        |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |   v1.o_orderkey IS NULL AS only_new,
        |   v2.o_orderkey IS NULL AS only_old,
        |   (v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
        |    OR v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus) AS diff,
        |   v1.o_totalprice AS op, v2.o_totalprice AS np,
        |   v1.o_orderstatus AS os, v2.o_orderstatus AS ns
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |)
        |SELECT o_orderkey,
        | CASE WHEN only_new THEN 'added'
        |      WHEN only_old THEN 'removed'
        |      ELSE 'changed' END AS change,
        | coalesce(op, -1.0) AS old_price, coalesce(np, -1.0) AS new_price,
        | coalesce(os, '') AS old_status, coalesce(ns, '') AS new_status
        |FROM j
        |WHERE only_new OR only_old OR diff""".stripMargin,
    // incremental mart: the oracle is the FULL recompute — identical
    // output contract to q_mart_daily_sales
    "q_incremental_mart" ->
      """SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus AS status,
        | count(*) AS txns,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        | count(DISTINCT o_custkey) AS customers
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        | SUM(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        | CAST(l_quantity AS BIGINT) AS qty,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_discount > 0.05""".stripMargin,
    "q_join_enrich" ->
      """SELECT p_brand AS brand, s_name AS supplier, count(*) AS n_lines,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin,
    "q_exists_semi" ->
      """SELECT c_custkey AS custkey, c_name AS name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin,
    "q_anti_new_keys" ->
      """SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_upsert_merge" ->
      """WITH unioned AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice * 2, 2 FROM orders WHERE o_orderkey % 7 = 0
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |  FROM unioned
        |)
        |SELECT o_orderkey AS orderkey, o_orderstatus AS status,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q_count_canary" ->
      """SELECT 'orders_1995_plus' AS canary, count(*) AS n, count(*) >= 10 AS pass
        |FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'""".stripMargin,
    // the one POS derivation's output, frozen as pinned VALUES
    // (tools/gen_pos_oracle.py): a mismatch means generator drift. The
    // wire path (envelope → JSON reader) and the DSv2 connector must
    // both give exactly these rows
    "q_pos_generate" ->
      s"""SELECT * FROM ${graft.etl.PosSourcePinned.valuesSql}""",
    "q_pos_source" ->
      s"""SELECT * FROM ${graft.etl.PosSourcePinned.valuesSql}""",
    // the converged warehouse state after base upsert + (redelivered)
    // update batch: rows with orderkey % 700 = 0 carry the doubled price
    "q_warehouse_agg" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS status,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT status, count(*) AS n,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | min(cents) AS min_cents, max(cents) AS max_cents
        |FROM base GROUP BY 1""".stripMargin,
    "q_warehouse_roundtrip" ->
      """WITH base AS (
        |  SELECT o_orderkey AS orderkey, o_orderstatus AS status,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT orderkey,
        | CASE WHEN orderkey % 700 = 0 THEN 'U' ELSE status END AS status,
        | CAST(CASE WHEN orderkey % 700 = 0
        |   THEN CAST(totalprice AS DECIMAL(18,2)) * 2
        |   ELSE CAST(totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS totalprice
        |FROM base""".stripMargin,
    "q_asof_join" ->
      """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        | p.event_id AS p_event_id, p.value AS p_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment AS segment, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q_mart_rollup" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        | o_orderstatus AS status,
        | CAST(GROUPING(strftime(CAST(o_orderdate AS DATE), '%Y-%m'), o_orderstatus) AS BIGINT) AS gid,
        | count(*) AS txns,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
        |FROM orders
        |GROUP BY ROLLUP(strftime(CAST(o_orderdate AS DATE), '%Y-%m'), o_orderstatus)""".stripMargin,
    "q_pivot_status" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F",
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O",
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P"
        |FROM orders GROUP BY 1""".stripMargin,
    "q_set_ops" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |UNION
        |(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | EXCEPT
        | SELECT o_custkey FROM orders)""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus AS status,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    // the bucketed layout changes the PLAN, never the answer: the
    // oracle is the plain join
    "q_bucketed_join" ->
      """SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q_not_null_checks" ->
      """SELECT column_name, nulls, nulls = 0 AS pass FROM (
        |  SELECT 'o_orderkey' AS column_name, CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |)""".stripMargin,
    "q_non_empty" ->
      """SELECT 'orders' AS table_name, count(*) AS n, count(*) > 0 AS non_empty
        |FROM orders""".stripMargin,
    "q_contract_violations" ->
      """SELECT event_id, violation FROM (
        |  SELECT event_id, CASE WHEN value < 0 THEN 'value_negative' END AS violation FROM events
        |  UNION ALL
        |  SELECT event_id, CASE WHEN value > 190 THEN 'value_over_cap' END FROM events
        |  UNION ALL
        |  SELECT event_id, CASE WHEN event_type NOT IN ('click','view','purchase','signup','error') THEN 'unknown_event_type' END FROM events
        |  UNION ALL
        |  SELECT event_id, CASE WHEN user_id IS NULL THEN 'missing_user' END FROM events
        |) WHERE violation IS NOT NULL""".stripMargin,
    "q_ordered_limit" ->
      """SELECT o_orderkey AS orderkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_topk_per_group" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders
        |)
        |SELECT o_custkey AS custkey, rk AS "rank", o_orderkey AS orderkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM ranked WHERE rk <= 3""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
        |FROM events
        |WHERE regexp_matches(props, '"k": \d+')
        |  AND CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) > 80""".stripMargin,
    "q_tumbling_window" ->
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
        |   + to_seconds(CAST(floor(epoch(ts)/300)*300 AS BIGINT)) AS bucket_start,
        | event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event belongs to starts floor(ts/300)*300 and that minus 300
    // (size 600 / slide 300 => k in {0,1}); both always cover ts
    "q_hopping_window" ->
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
        |   + to_seconds(CAST(floor(epoch(ts)/300)*300 - k*300 AS BIGINT)) AS window_start,
        | event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, UNNEST([0, 1]) AS t(k)
        |GROUP BY 1, 2""".stripMargin,
    "q_sessionize" -> sessionizeSql,
    // the streamed native-session-window run maps losslessly back onto
    // the batch frame (floor-second starts; end = window end − 1800), so
    // the batch oracle applies verbatim — streamed ≡ batch is the gate
    "q_stream_sessions" -> sessionizeSql,
    "q_range_join" ->
      s"""WITH sess AS ($sessionizeSql),
        |pts AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |)
        |SELECT p.event_id, p.user_id, s.session_id
        |FROM pts p JOIN sess s
        |  ON p.user_id = s.user_id AND p.ts_s BETWEEN s.start_s AND s.end_s""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |)
        |SELECT f.cohort_day, e.day - f.cohort_day AS k,
        | count(DISTINCT e.user_id) AS users
        |FROM e JOIN f USING (user_id)
        |WHERE e.day - f.cohort_day <= 7
        |GROUP BY 1, 2""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), u1 AS (
        |  SELECT user_id,
        |   min(CASE WHEN event_type = 'view' THEN ts_s END) AS s1
        |  FROM e GROUP BY 1
        |), u2 AS (
        |  SELECT e.user_id,
        |   min(CASE WHEN event_type = 'click' AND ts_s >= s1 THEN ts_s END) AS s2
        |  FROM e JOIN u1 USING (user_id) GROUP BY 1
        |), u3 AS (
        |  SELECT e.user_id,
        |   min(CASE WHEN event_type = 'purchase' AND ts_s >= s2 THEN ts_s END) AS s3
        |  FROM e JOIN u2 USING (user_id) GROUP BY 1
        |)
        |SELECT CAST(1 AS INTEGER) AS stage, 'view' AS step, count(s1) AS users FROM u1
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), 'click', count(s2) FROM u2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), 'purchase', count(s3) FROM u3""".stripMargin,
    "q_scd2" -> scd2RebuildSql,
    // the incremental merge must converge to the full rebuild exactly:
    // ONE bound SQL for both keys, so the oracles can never diverge
    "q_scd2_incremental" -> scd2RebuildSql,
    // the streamed sink must converge to the same full rebuild: the
    // SAME bound SQL again — streamed ≡ batch can never drift by
    // construction of the oracle
    "q_stream_scd2" -> scd2RebuildSql,
    "q_running_totals" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(18,2)) AS val FROM events
        |)
        |SELECT event_id, user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
        | CAST(SUM(val) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM e""".stripMargin,
    // the generated source → oracle computes the same mart from the
    // pinned VALUES (q_pos_source proves connector == pin)
    "q_grocery_daily_mart" ->
      s"""WITH fct AS (
        |  SELECT event_time, store_id, quantity, unit_price_cents
        |  FROM ${graft.etl.PosSourcePinned.valuesSql}
        |)
        |SELECT CAST(date_trunc('day', event_time) AS DATE) AS day, store_id,
        | count(*) AS txns,
        | CAST(SUM(quantity * unit_price_cents) AS BIGINT) AS gross_revenue_cents,
        | CAST(SUM(quantity) AS BIGINT) AS units
        |FROM fct GROUP BY 1, 2""".stripMargin,
    "q_retail_mart" ->
      """WITH transactions_src(transaction_id, store_id, sku, amount_cents, quantity, transaction_ts) AS (
        |  VALUES ('t1', 101, 'banana', '199', 1, TIMESTAMP '2024-03-05 09:15:00'),
        |         ('t2', 101, 'apple', '299', 2, TIMESTAMP '2024-03-05 11:40:00'),
        |         ('t3', 102, 'milk', '499', 1, TIMESTAMP '2024-03-05 13:05:00')
        |), stg AS (
        |  SELECT store_id, CAST(amount_cents AS INTEGER) AS amount_cents,
        |   quantity, transaction_ts
        |  FROM transactions_src
        |)
        |SELECT CAST(date_trunc('day', transaction_ts) AS DATE) AS day, store_id,
        | count(*) AS txns,
        | CAST(SUM(amount_cents) AS BIGINT) AS gross_amount_cents,
        | CAST(SUM(quantity) AS BIGINT) AS units
        |FROM stg GROUP BY 1, 2""".stripMargin,
    "q_token_stats" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS chars,
        | CAST(len(toks) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens,
        | CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens,
        | round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |   / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len
        |FROM d""".stripMargin,
    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   round(CAST(len(list_filter(toks, t -> list_contains(
        |     ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
        |   round(CAST(len(list_distinct(toks)) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS diversity,
        |   round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS length_signal
        |  FROM d
        |), q AS (
        |  SELECT *, CAST(
        |    CAST(0.4 AS DECIMAL(2,1)) * CAST(length_signal AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(diversity AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(stop_ratio AS DECIMAL(9,6)))
        |   AS DOUBLE) AS quality FROM s
        |)
        |SELECT *, (quality >= 0.5 AND n_tokens >= 10) AS keep FROM q""".stripMargin,
    "q_lang_id" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |   round(CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to','is','that','with'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score_en,
        |   round(CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score_de,
        |   round(CAST(len(list_filter(toks, t -> list_contains(['el','los','las','y','es','un','una','que'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score_es,
        |   round(CAST(len(list_filter(toks, t -> list_contains(['le','les','et','est','une','dans','pour'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score_fr,
        |   round(CAST(len(list_filter(toks, t -> list_contains(['de','shi','bu','zhe','ge'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score_zh
        |  FROM d
        |)
        |SELECT *,
        | CASE WHEN score_en >= greatest(score_de, score_es, score_fr, score_zh) THEN 'en'
        |      WHEN score_de >= greatest(score_es, score_fr, score_zh) THEN 'de'
        |      WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
        |      WHEN score_fr >= score_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted
        |FROM s""".stripMargin,
    "q_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, norm,
        |   array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ') AS bag
        |  FROM d
        |)
        |SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS content_hash,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(bag, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS bag_hash
        |FROM t""".stripMargin,
    "q_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(
        |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang,
        |   CAST(row_number() OVER (PARTITION BY lang ORDER BY h NULLS FIRST, doc_id) AS BIGINT) AS rn,
        |   count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM d
        |)
        |SELECT doc_id, lang, rn FROM r WHERE rn <= ceil(cnt * 0.1)""".stripMargin,
    "q_mixture_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(
        |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM documents
        |), t AS (
        |  SELECT count(*) AS total, count(DISTINCT source) AS ns FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |   CAST(row_number() OVER (PARTITION BY source ORDER BY h NULLS FIRST, doc_id) AS BIGINT) AS rn
        |  FROM d
        |)
        |SELECT doc_id, source, rn FROM r, t WHERE rn <= ceil(0.5 * total / ns)""".stripMargin,
    // the √n temperature rule replayed end-to-end: per-source token
    // mass, √ rounded at 6 dp into exact decimals (order-free sum),
    // budget = (srt/denom)·(total//4) as two IEEE ops, then the
    // per-source content-hash-ordered running total against the budget
    "q_temperature_mixture" ->
      s"""WITH $packTapeDocsSql, k AS (
        |  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens, okey
        |  FROM d
        |), st AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_s FROM k GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) // 4 AS budget FROM st
        |), bud AS (
        |  SELECT source,
        |   CAST(round(sqrt(CAST(n_s AS DOUBLE)), 6) AS DECIMAL(28,6)) AS srt
        |  FROM st
        |), den AS (
        |  SELECT sum(srt) AS denom FROM bud
        |), bgt AS (
        |  SELECT b.source, CAST(floor(
        |    CAST(b.srt AS DOUBLE) / CAST(den.denom AS DOUBLE)
        |    * CAST(tot.budget AS DOUBLE)) AS BIGINT) AS budget_tokens
        |  FROM bud b, den, tot
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |   CAST(SUM(n_tokens) OVER (PARTITION BY source
        |     ORDER BY okey NULLS FIRST, doc_id) AS BIGINT) AS cum_tokens
        |  FROM k
        |)
        |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens, g.budget_tokens
        |FROM c JOIN bgt g USING (source)
        |WHERE c.cum_tokens <= g.budget_tokens""".stripMargin,
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(
        |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) % 1000000 AS draw
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, draw, CAST(
        |    CAST(0.4 AS DECIMAL(2,1)) * CAST(round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(round(CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS DECIMAL(9,6)))
        |   AS DOUBLE) AS quality
        |  FROM d
        |)
        |SELECT doc_id, CAST(draw AS BIGINT) AS draw,
        | round(quality, 6) AS quality,
        | CAST(draw AS DOUBLE) < quality * 1e6 AS keep
        |FROM s""".stripMargin,
    // stride-scheduled interleave: per-source rank over doc_id, frac =
    // rn/n — one exact integer double division, mirrored verbatim
    "q_interleave" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_source FROM documents GROUP BY 1
        |), r AS (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source, r.rn, CAST(c.n_source AS BIGINT) AS n_source,
        | CAST(r.rn AS DOUBLE) / CAST(c.n_source AS DOUBLE) AS frac
        |FROM r JOIN c USING (source)""".stripMargin,
    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |   || CASE WHEN doc_id % 3 = 0 THEN ' contact alice.smith@example.com or bob@mail.org now' ELSE '' END
        |   || CASE WHEN doc_id % 4 = 0 THEN ' call +1 415 555-0133 today' ELSE '' END
        |   || CASE WHEN doc_id % 5 = 0 THEN ' server at 192.168.10.25 port 8080' ELSE '' END AS t0
        |  FROM documents
        |), e AS (
        |  SELECT doc_id,
        |   CAST(len(regexp_extract_all(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |   regexp_replace(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g') AS t1
        |  FROM p
        |), i AS (
        |  SELECT doc_id, n_email,
        |   CAST(len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
        |   regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<ip>', 'g') AS t2
        |  FROM e
        |)
        |SELECT doc_id, n_email, n_ip,
        | CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_phone,
        | regexp_replace(t2, '\+?[0-9][0-9 ()-]{6,}[0-9]', '<phone>', 'g') AS redacted
        |FROM i""".stripMargin,
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, round(scale, 6) AS scale,
        |   CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |        ELSE list_transform(v, x -> CAST(greatest(-127.0,
        |          least(127.0, floor(x / scale + 0.5))) AS INTEGER)) END AS qv
        |  FROM s
        |)
        |SELECT vec_id, scale,
        | array_to_string(qv, ',') AS q_csv,
        | CAST(len(list_filter(qv, c -> abs(c) = 127)) AS BIGINT) AS n_sat
        |FROM q""".stripMargin,
    "q_chunk_docs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        | array_to_string(ws[i * 80 + 1 : i * 80 + 100], ' ') AS chunk
        |FROM d, UNNEST(generate_series(0,
        |  CAST((greatest(len(ws) - 100, 0) + 79) // 80 AS INTEGER))) AS t(i)""".stripMargin,
    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) FROM documents
        |), k AS (
        |  SELECT doc_id,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(
        |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS content_hash
        |  FROM all_docs
        |)
        |SELECT content_hash, min(doc_id) AS canonical_id,
        | count(*) AS n_copies
        |FROM k GROUP BY 1""".stripMargin,
    "q_jaccard_pairs" -> jaccardPairsSql,
    "q_minhash_lsh" -> jaccardPairsSql,
    // leakage-safe split: the dedup-cluster closure joined to the
    // REPRESENTATIVE's content-hash split key
    "q_split_leakage_safe" ->
      s"""WITH $textClosureSql,
        |h AS (
        |  SELECT doc_id AS cluster_id, $splitKeySql AS h_mod
        |  FROM documents
        |)
        |SELECT cl.doc_id, cl.cluster_id, CAST(h.h_mod AS BIGINT) AS h_mod,
        | CASE WHEN h.h_mod < 90 THEN 'train'
        |      WHEN h.h_mod < 95 THEN 'val' ELSE 'test' END AS split
        |FROM cl JOIN h USING (cluster_id)""".stripMargin,
    "q_substring_dups" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), w AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 14),
        |    i -> array_to_string(toks[i:i+15], ' '))) AS win
        |  FROM d
        |), dfq AS (
        |  SELECT win, count(*) AS wdf FROM w GROUP BY 1
        |), keep AS (
        |  SELECT win FROM dfq WHERE wdf BETWEEN 2 AND 64
        |), p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM w a JOIN keep USING (win) JOIN w b USING (win)
        |  WHERE a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2""".stripMargin,
    // exact maximal-run replay: positioned windows, df-pruned content
    // join, gaps-and-islands chaining per (pair, diagonal) — identical
    // integer window functions in both engines
    "q_substring_runs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+15], ' ') AS win
        |  FROM d, unnest(generate_series(1, len(toks) - 15)) AS t(i)
        |), keep AS (
        |  SELECT win FROM w GROUP BY win
        |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64
        |), m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM w a JOIN keep USING (win) JOIN w b USING (win)
        |  WHERE a.doc_id < b.doc_id
        |), g AS (
        |  SELECT doc_a, doc_b, diag, pos_a,
        |   pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
        |     ORDER BY pos_a) AS grp
        |  FROM m
        |), runs AS (
        |  SELECT doc_a, doc_b, diag, grp, count(*) + 15 AS run_len
        |  FROM g GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_a, doc_b, CAST(max(run_len) AS BIGINT) AS max_run,
        | CAST(count(*) AS BIGINT) AS n_runs
        |FROM runs GROUP BY 1, 2""".stripMargin,
    // pair/hamming relation over the pinned fixture fingerprints — pure
    // 64-bit integer arithmetic both engines share (xor + popcount)
    "q_simhash_fixture" ->
      s"""WITH h(doc_id, sh64) AS (VALUES
        |  ${graft.dedup.SimhashFixture.valuesSql}
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(bit_count(xor(a.sh64, b.sh64)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh64, b.sh64)) <= 3""".stripMargin,
    // the pruning/recall ledger: each banded family's block reuses its
    // own hash CTEs and band/Hamming rules VERBATIM (nested WITH per
    // family — the CTE names collide across families); the simhash row
    // replays the 16-bit-chunk pigeonhole from the pinned fixture
    "q_dedup_pruning_report" ->
      s"""WITH fam AS (
        |${bandedPruningSqlFrom("image_png", phashHashSql, "phash",
             "phash_hi", "phash_lo")}
        |UNION ALL
        |${bandedPruningSqlFrom("image_jpeg", jpegHashSql, "jphash",
             "phash_hi", "phash_lo")}
        |UNION ALL
        |${bandedPruningSqlFrom("audio", ahashHashSql, "ahash",
             "ahash_hi", "ahash_lo")}
        |UNION ALL
        |${bandedPruningSqlFrom("video", vhashHashSql, "vhash",
             "vhash_hi", "vhash_lo")}
        |UNION ALL
        |SELECT * FROM (
        |  WITH h(doc_id, sh64) AS (VALUES
        |    ${graft.dedup.SimhashFixture.valuesSql}
        |  ),
        |  ch AS (
        |    SELECT doc_id, sh64, c.range AS chunk,
        |      (sh64 >> (CAST(c.range AS INTEGER) * 16)) & 65535 AS v
        |    FROM h, range(4) c
        |  ),
        |  cnd AS (
        |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |    FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.v = b.v
        |      AND a.doc_id < b.doc_id
        |  ),
        |  prm AS (
        |    SELECT GREATEST(1, CAST(ceil(count(*) / 2048.0) AS BIGINT)) AS d
        |    FROM h
        |  ),
        |  smp AS (
        |    SELECT h.* FROM h, prm
        |    WHERE (doc_id * 1000003 + 12345) % prm.d = 0
        |  ),
        |  ver AS (
        |    SELECT cnd.a_id, cnd.b_id FROM cnd
        |    JOIN h x ON x.doc_id = cnd.a_id
        |    JOIN h y ON y.doc_id = cnd.b_id
        |    WHERE bit_count(xor(x.sh64, y.sh64)) <= 3
        |  ),
        |  vsm AS (
        |    SELECT 1 AS one FROM ver
        |    JOIN smp x ON x.doc_id = ver.a_id
        |    JOIN smp y ON y.doc_id = ver.b_id
        |  ),
        |  ex AS (
        |    SELECT 1 AS one FROM smp x JOIN smp y ON x.doc_id < y.doc_id
        |    WHERE bit_count(xor(x.sh64, y.sh64)) <= 3
        |  )
        |  SELECT 'simhash_fixture' AS family,
        |    (SELECT count(*) FROM h) AS n_items,
        |    (SELECT count(*) FROM cnd) AS n_cand,
        |    (SELECT count(*) FROM ver) AS n_pairs,
        |    (SELECT count(*) FROM ex) AS n_exact,
        |    (SELECT count(*) FROM vsm) AS n_pairs_exact_scope,
        |    (SELECT count(*) FROM smp) AS exact_items
        |)
        |)
        |SELECT family, n_items,
        | (n_items * (n_items - 1)) // 2 AS n_possible,
        | n_cand, n_pairs, n_exact, n_pairs_exact_scope, exact_items,
        | CAST(n_cand AS DOUBLE)
        |   / CAST((n_items * (n_items - 1)) // 2 AS DOUBLE) AS cand_ratio,
        | CASE WHEN n_exact > 0 THEN CAST(n_pairs_exact_scope AS DOUBLE)
        |   / CAST(n_exact AS DOUBLE) END AS recall,
        | CAST(exact_items * (exact_items - 1) AS DOUBLE)
        |   / CAST(n_items * (n_items - 1) AS DOUBLE) AS exact_coverage
        |FROM fam""".stripMargin,
    // PQ ADC serving replayed from the pinned integer fixture: argmin
    // encoding, LUT sums, rnorm and the (cosine desc, id) ranking are
    // all exact arithmetic — every dot is an integer in DOUBLE, sqrt and
    // the division are correctly-rounded IEEE ops identical across
    // engines, so this hash-matches (PqFixture scaladoc has the proof
    // obligations)
    "q_ann_pq_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), cb(subspace, code, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.codebooksValuesSql}
        |), sv AS (
        |  SELECT v.vec_id, cb.subspace, cb.code,
        |   list_dot_product(cb.centroid, cb.centroid)
        |    - 2 * list_dot_product(
        |        list_slice(v.emb, cb.subspace*2+1, cb.subspace*2+2),
        |        cb.centroid) AS dist
        |  FROM v CROSS JOIN cb
        |), codes AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT vec_id, subspace, code,
        |     row_number() OVER (PARTITION BY vec_id, subspace
        |       ORDER BY dist, code) AS rn
        |    FROM sv) WHERE rn = 1
        |), rec AS (
        |  SELECT c.vec_id,
        |   sqrt(sum(list_dot_product(cb.centroid, cb.centroid))) AS rnorm
        |  FROM codes c JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  GROUP BY 1
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), sc AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, q.nq,
        |   sum(list_dot_product(
        |     list_slice(q.qv, c.subspace*2+1, c.subspace*2+2),
        |     cb.centroid)) AS adc
        |  FROM q CROSS JOIN codes c
        |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  WHERE c.vec_id <> q.query_id
        |  GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT s.query_id, s.neighbor_id,
        |   CASE WHEN r.rnorm * s.nq > 0 THEN s.adc / (r.rnorm * s.nq)
        |        ELSE 0.0 END AS c
        |  FROM sc s JOIN rec r ON r.vec_id = s.neighbor_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= 5""".stripMargin,
    // the OPQ twin: the identical argmin-encode + LUT + rnorm replay,
    // over the corpus ROTATED by the pinned signed permutation (list
    // reorder + negate — integer-exact, orthonormal)
    "q_ann_opq_fixture" ->
      s"""WITH v0(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), v AS (
        |  SELECT vec_id, ${graft.ann.PqFixture.opqRotationSql("emb")} AS emb
        |  FROM v0
        |), cb(subspace, code, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.codebooksValuesSql}
        |), sv AS (
        |  SELECT v.vec_id, cb.subspace, cb.code,
        |   list_dot_product(cb.centroid, cb.centroid)
        |    - 2 * list_dot_product(
        |        list_slice(v.emb, cb.subspace*2+1, cb.subspace*2+2),
        |        cb.centroid) AS dist
        |  FROM v CROSS JOIN cb
        |), codes AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT vec_id, subspace, code,
        |     row_number() OVER (PARTITION BY vec_id, subspace
        |       ORDER BY dist, code) AS rn
        |    FROM sv) WHERE rn = 1
        |), rec AS (
        |  SELECT c.vec_id,
        |   sqrt(sum(list_dot_product(cb.centroid, cb.centroid))) AS rnorm
        |  FROM codes c JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  GROUP BY 1
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), sc AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, q.nq,
        |   sum(list_dot_product(
        |     list_slice(q.qv, c.subspace*2+1, c.subspace*2+2),
        |     cb.centroid)) AS adc
        |  FROM q CROSS JOIN codes c
        |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  WHERE c.vec_id <> q.query_id
        |  GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT s.query_id, s.neighbor_id,
        |   CASE WHEN r.rnorm * s.nq > 0 THEN s.adc / (r.rnorm * s.nq)
        |        ELSE 0.0 END AS c
        |  FROM sc s JOIN rec r ON r.vec_id = s.neighbor_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= 5""".stripMargin,
    // the IVF-PQ twin: adds pinned routing centroids / cell means /
    // assignments; replays cell routing (raw dot desc, cluster asc),
    // residual argmin encoding, recon rnorm = ||mean + codewords||, and
    // qcdot + LUT scoring — same exactness argument
    "q_ann_ivfpq_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), ct(cluster, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.centroidsValuesSql}
        |), mn(cluster, mean) AS (VALUES
        |  ${graft.ann.PqFixture.meansValuesSql}
        |), cb(subspace, code, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.codebooksValuesSql}
        |), asg(vec_id, cluster) AS (VALUES
        |  ${graft.ann.PqFixture.assignmentsValuesSql}
        |), res AS (
        |  SELECT v.vec_id, a.cluster,
        |   list_transform(range(1, 9), i -> v.emb[i] - m.mean[i]) AS r
        |  FROM v JOIN asg a USING (vec_id) JOIN mn m ON m.cluster = a.cluster
        |), sv AS (
        |  SELECT res.vec_id, cb.subspace, cb.code,
        |   list_dot_product(cb.centroid, cb.centroid)
        |    - 2 * list_dot_product(
        |        list_slice(res.r, cb.subspace*2+1, cb.subspace*2+2),
        |        cb.centroid) AS dist
        |  FROM res CROSS JOIN cb
        |), codes AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT vec_id, subspace, code,
        |     row_number() OVER (PARTITION BY vec_id, subspace
        |       ORDER BY dist, code) AS rn
        |    FROM sv) WHERE rn = 1
        |), rec AS (
        |  SELECT c.vec_id, sqrt(sum(list_dot_product(
        |     list_transform(range(1, 3),
        |       i -> m.mean[c.subspace*2 + i] + cb.centroid[i]),
        |     list_transform(range(1, 3),
        |       i -> m.mean[c.subspace*2 + i] + cb.centroid[i])))) AS rnorm
        |  FROM codes c
        |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  JOIN asg a ON a.vec_id = c.vec_id
        |  JOIN mn m ON m.cluster = a.cluster
        |  GROUP BY 1
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), routes AS (
        |  SELECT query_id, cluster, qv, nq FROM (
        |    SELECT q.query_id, ct.cluster, q.qv, q.nq,
        |     row_number() OVER (PARTITION BY q.query_id
        |       ORDER BY list_dot_product(q.qv, ct.centroid) DESC,
        |         ct.cluster) AS rr
        |    FROM q CROSS JOIN ct) WHERE rr <= 2
        |), sc AS (
        |  SELECT r.query_id, c.vec_id AS neighbor_id, r.nq,
        |   max(list_dot_product(r.qv, m.mean))
        |    + sum(list_dot_product(
        |        list_slice(r.qv, c.subspace*2+1, c.subspace*2+2),
        |        cb.centroid)) AS adc
        |  FROM routes r
        |  JOIN asg a ON a.cluster = r.cluster
        |  JOIN codes c ON c.vec_id = a.vec_id
        |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
        |  JOIN mn m ON m.cluster = a.cluster
        |  WHERE c.vec_id <> r.query_id
        |  GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT s.query_id, s.neighbor_id,
        |   CASE WHEN r.rnorm * s.nq > 0 THEN s.adc / (r.rnorm * s.nq)
        |        ELSE 0.0 END AS c
        |  FROM sc s JOIN rec r ON r.vec_id = s.neighbor_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= 5""".stripMargin,
    // IVF routing replay over the pinned fixture: cells ranked by raw
    // query·centroid dot (desc, cluster asc — integer dots, exact),
    // candidates = assignments in the top-nProbe cells, cosine ranking
    // with the same expression tree as Ann.probeCells
    "q_ann_ivf_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), ct(cluster, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.centroidsValuesSql}
        |), asg(vec_id, cluster) AS (VALUES
        |  ${graft.ann.PqFixture.assignmentsValuesSql}
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), rt AS (
        |  SELECT query_id, cluster FROM (
        |    SELECT q.query_id, ct.cluster,
        |     row_number() OVER (PARTITION BY q.query_id
        |       ORDER BY list_dot_product(q.qv, ct.centroid) DESC, ct.cluster)
        |       AS rn
        |    FROM q CROSS JOIN ct) WHERE rn <= 2
        |), f AS (
        |  SELECT rt.query_id, a.vec_id AS neighbor_id,
        |   list_dot_product(vv.emb, q.qv)
        |     / (sqrt(list_dot_product(vv.emb, vv.emb)) * q.nq) AS c
        |  FROM rt
        |  JOIN asg a ON a.cluster = rt.cluster AND a.vec_id <> rt.query_id
        |  JOIN v vv ON vv.vec_id = a.vec_id
        |  JOIN q ON q.query_id = rt.query_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= 5""".stripMargin,
    // IVF-ADC fixture replay: the same raw-dot routing CTEs, the
    // corpus side swapped for its int8 codes (scale = max|v|/127,
    // floor-half-up clamped — the exact Quantize arithmetic) and the
    // ranking for the asymmetric cosine against the FLOAT query
    "q_ann_ivfadc_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), ct(cluster, centroid) AS (VALUES
        |  ${graft.ann.PqFixture.centroidsValuesSql}
        |), asg(vec_id, cluster) AS (VALUES
        |  ${graft.ann.PqFixture.assignmentsValuesSql}
        |), sc AS (
        |  SELECT vec_id, emb,
        |   list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
        |  FROM v
        |), cd AS (
        |  SELECT vec_id,
        |   CASE WHEN scale = 0 THEN list_transform(emb, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(emb, x -> CAST(greatest(-127.0,
        |          least(127.0, floor(x / scale + 0.5))) AS DOUBLE)) END AS qv
        |  FROM sc
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS vq,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), rt AS (
        |  SELECT query_id, cluster FROM (
        |    SELECT q.query_id, ct.cluster,
        |     row_number() OVER (PARTITION BY q.query_id
        |       ORDER BY list_dot_product(q.vq, ct.centroid) DESC, ct.cluster)
        |       AS rn
        |    FROM q CROSS JOIN ct) WHERE rn <= 2
        |), f AS (
        |  SELECT rt.query_id, a.vec_id AS neighbor_id,
        |   list_dot_product(cc.qv, q.vq)
        |     / (sqrt(list_dot_product(cc.qv, cc.qv)) * q.nq) AS c
        |  FROM rt
        |  JOIN asg a ON a.cluster = rt.cluster AND a.vec_id <> rt.query_id
        |  JOIN cd cc ON cc.vec_id = a.vec_id
        |  JOIN q ON q.query_id = rt.query_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= 5""".stripMargin,
    // MMR greedy replay: k selection steps unrolled as CTEs (the
    // graph-oracle pattern), score = 0.25·rel − 0.75·max cos over the
    // selected set, argmax with smaller-id tiebreak — every term exact
    // or correctly-rounded-identical across engines
    "q_ann_mmr_fixture" -> mmrFixtureOracleSql,
    // multi-probe LSH replay: the same pinned planes/buckets, the query
    // side expanded to its own bucket plus every single-bit XOR flip
    // (probeBits = bitsPerTable = 3 → 4 probes per (query, table)),
    // then the identical candidate join and exact-cosine ranking
    "q_ann_lsh_probe_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), pl(tbl, bit, plane) AS (VALUES
        |  ${graft.ann.LshFixture.planesValuesSql}
        |), b AS (
        |  SELECT v.vec_id, pl.tbl,
        |   CAST(sum(CASE WHEN list_dot_product(v.emb, pl.plane) >= 0
        |     THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END) AS BIGINT) AS bucket
        |  FROM v CROSS JOIN pl GROUP BY 1, 2
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), qprobe AS (
        |  SELECT qb.vec_id, qb.tbl,
        |   CASE WHEN p.range = 0 THEN qb.bucket
        |        ELSE xor(qb.bucket,
        |          CAST(1 AS BIGINT) << CAST(p.range - 1 AS INTEGER)) END AS bucket
        |  FROM b qb, range(${graft.ann.LshFixture.bitsPerTable + 1}) p
        |  WHERE qb.vec_id < 3
        |), cand AS (
        |  SELECT DISTINCT qp.vec_id AS query_id, cb.vec_id AS neighbor_id
        |  FROM b cb JOIN qprobe qp ON cb.tbl = qp.tbl AND cb.bucket = qp.bucket
        |  WHERE cb.vec_id <> qp.vec_id
        |), f AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |   list_dot_product(vv.emb, q.qv)
        |     / (sqrt(list_dot_product(vv.emb, vv.emb)) * q.nq) AS c
        |  FROM cand
        |  JOIN v vv ON vv.vec_id = cand.neighbor_id
        |  JOIN q ON q.query_id = cand.query_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= ${graft.ann.LshFixture.k}""".stripMargin,
    // LSH serve-path replay over the pinned fixture: per-(row, table)
    // bucket = OR of sign bits (integer plane·vector dots, exact),
    // candidates share any table's full bucket with a query (self
    // excluded, distinct), then the same exact-cosine ranking as the
    // other ANN fixtures
    "q_ann_lsh_fixture" ->
      s"""WITH v(vec_id, emb) AS (VALUES
        |  ${graft.ann.PqFixture.corpusValuesSql}
        |), pl(tbl, bit, plane) AS (VALUES
        |  ${graft.ann.LshFixture.planesValuesSql}
        |), b AS (
        |  SELECT v.vec_id, pl.tbl,
        |   CAST(sum(CASE WHEN list_dot_product(v.emb, pl.plane) >= 0
        |     THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END) AS BIGINT) AS bucket
        |  FROM v CROSS JOIN pl GROUP BY 1, 2
        |), q AS (
        |  SELECT vec_id AS query_id, emb AS qv,
        |   sqrt(list_dot_product(emb, emb)) AS nq
        |  FROM v WHERE vec_id < 3
        |), cand AS (
        |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        |  FROM b cb JOIN b qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
        |  WHERE qb.vec_id < 3 AND cb.vec_id <> qb.vec_id
        |), f AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |   list_dot_product(vv.emb, q.qv)
        |     / (sqrt(list_dot_product(vv.emb, vv.emb)) * q.nq) AS c
        |  FROM cand
        |  JOIN v vv ON vv.vec_id = cand.neighbor_id
        |  JOIN q ON q.query_id = cand.query_id
        |)
        |SELECT query_id,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank,
        | neighbor_id, round(c, 6) AS cosine
        |FROM f
        |QUALIFY rank <= ${graft.ann.LshFixture.k}""".stripMargin,
    // the exact pair relation restricted to pairs touching the batch
    "q_incremental_dedup" ->
      s"""WITH p AS ($jaccardPairsSql)
        |SELECT * FROM p WHERE a_id % 7 = 0 OR b_id % 7 = 0""".stripMargin,
    // forget oracles: the SAME shared CTE builders rebuilt from scratch
    // on the filtered corpus — the patched artifacts must reproduce the
    // full rebuild row-for-row
    "q_forget_clusters" ->
      s"""WITH ${textClosureSqlFrom(forgottenDocsSql)}
        |SELECT doc_id, cluster_id FROM cl""".stripMargin,
    "q_forget_verdict" -> corpusFilterSqlFrom(forgottenDocsSql),
    "q_forget_index" ->
      s"""WITH p AS (${jaccardPairsSqlFrom(forgottenDocsSql)})
        |SELECT * FROM p WHERE a_id % 7 = 0 OR b_id % 7 = 0""".stripMargin,
    // the patched cosine bucket index: the selective replay (twin
    // planting + exact all-pairs at t=0.9) rebuilt on the FILTERED
    // vector corpus — incremental ≡ full for the embedding serving
    // artifact
    "q_forget_cosidx" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id % 17 <> 2
        |), corpus AS (
        |  SELECT vec_id, v FROM e
        |  UNION ALL
        |  SELECT vec_id + 10000000, list_transform(v, x -> x + 0.01)
        |  FROM e WHERE vec_id % 10 = 0
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   list_cosine_similarity(a.v, b.v) AS c
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |)
        |SELECT a_id, b_id, round(c, 6) AS cosine FROM p WHERE c >= 0.9""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH $textClosureSql
        |SELECT doc_id, cluster_id FROM cl""".stripMargin,
    // the contract-branch witness: replay the 40/25-copy planting
    // (copy ids = 10^7 + doc_id·100 + i, the same arithmetic the
    // member runs), then the SAME exact-Jaccard closure over the
    // augmented corpus — the star-contracted edge relation must
    // reproduce these components exactly
    "q_dedup_clusters_dupheavy" ->
      s"""WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 10000000 + doc_id * 100 + t.i AS doc_id, text
        |  FROM documents, unnest(range(1, 41)) AS t(i)
        |  WHERE doc_id % 250 = 1
        |  UNION ALL
        |  SELECT 10000000 + doc_id * 100 + t.i AS doc_id, text
        |  FROM documents, unnest(range(51, 76)) AS t(i)
        |  WHERE doc_id % 250 = 2
        |), ${textClosureSqlFrom("corpus").stripPrefix("RECURSIVE ")}
        |SELECT doc_id, cluster_id FROM cl""".stripMargin,
    "q_embed_near_dup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   list_cosine_similarity(a.v, b.v) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)
        |SELECT a_id, b_id, round(c, 6) AS cosine FROM p WHERE c >= 0.4""".stripMargin,
    // the selective regime: replay the twin planting (id + 1e7, each
    // coordinate + 0.01 — identical IEEE double ops both engines),
    // then EXACT all-pairs cosine at t=0.9 — the LSH path must find
    // every pair the exact scan finds or the hash mismatches
    "q_embed_near_dup_selective" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), corpus AS (
        |  SELECT vec_id, v FROM e
        |  UNION ALL
        |  SELECT vec_id + 10000000, list_transform(v, x -> x + 0.01)
        |  FROM e WHERE vec_id % 10 = 0
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   list_cosine_similarity(a.v, b.v) AS c
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |)
        |SELECT a_id, b_id, round(c, 6) AS cosine FROM p WHERE c >= 0.9""".stripMargin,
    "q_embed_clusters" -> embedClosureSqlFrom("embeddings"),
    // forget over the embedding artifact: the identical closure rebuilt
    // on the filtered vectors (incremental ≡ full, modality-generic)
    "q_forget_embed" ->
      embedClosureSqlFrom("(SELECT * FROM embeddings WHERE vec_id % 17 <> 2)"),
    // forget over the image artifact: the banded-Hamming closure
    // formula-replayed on the filtered corpus, labels not flags
    "q_forget_image" ->
      s"""WITH RECURSIVE ${imageClosureCtesFrom(forgottenDocsSql)}
        |SELECT s AS asset_id, min(dd) AS cluster_id FROM ireach GROUP BY s""".stripMargin,
    // prototype eval: exact-decimal elementwise means, max-cosine
    // assignment (ties -> smaller label), confusion counts
    "q_prototype_eval" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |   list_transform(embedding, x -> CAST(x AS DECIMAL(18,9))) AS vd
        |  FROM embeddings
        |), u AS (
        |  SELECT e.label, t.i, e.vd[t.i] AS x
        |  FROM e, unnest(range(1, len(e.vd) + 1)) AS t(i)
        |), m AS (
        |  SELECT label, i, CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
        |  FROM u GROUP BY 1, 2
        |), ml AS (
        |  SELECT label, list(mu ORDER BY i) AS mv FROM m GROUP BY 1
        |), s AS (
        |  SELECT e.vec_id, e.label, ml.label AS cand,
        |   CASE WHEN list_dot_product(e.v, e.v) = 0
        |          OR list_dot_product(ml.mv, ml.mv) = 0 THEN 0.0
        |        ELSE list_cosine_similarity(e.v, ml.mv) END AS c
        |  FROM e, ml
        |), p AS (
        |  SELECT vec_id, label, cand,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cand) AS rn
        |  FROM s
        |)
        |SELECT label, cand AS predicted, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE rn = 1 GROUP BY 1, 2""".stripMargin,
    // hard negatives: cosine scores + cluster closure; ranking uses the
    // ROUNDED cosine (mirrors the Spark output contract) after the
    // same-cluster exclusion
    "q_hard_negatives" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM p UNION ALL SELECT b_id, a_id FROM p
        |), reach(s, d) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
        |), c AS (
        |  SELECT s AS vec_id, min(d) AS cluster_id FROM reach GROUP BY s
        |), q AS (
        |  SELECT vec_id, v FROM e WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |   round(list_cosine_similarity(e.v, q.v), 6) AS cosine
        |  FROM e JOIN q ON e.vec_id != q.vec_id
        |), negs AS (
        |  SELECT s.*, CAST(row_number() OVER (
        |    PARTITION BY s.query_id
        |    ORDER BY s.cosine DESC, s.neighbor_id) AS BIGINT) AS "rank"
        |  FROM scored s
        |   JOIN c qc ON qc.vec_id = s.query_id
        |   JOIN c nc ON nc.vec_id = s.neighbor_id
        |  WHERE qc.cluster_id != nc.cluster_id
        |)
        |SELECT query_id, "rank", neighbor_id, cosine
        |FROM negs WHERE "rank" <= 5""".stripMargin,
    // budget select: the T2 quality CTE + a global cumsum window (the
    // oracle runs single-threaded; Spark uses the bucketed prefix sum)
    "q_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   round(CAST(len(list_filter(toks, t -> list_contains(
        |     ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
        |   round(CAST(len(list_distinct(toks)) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS diversity,
        |   round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS length_signal
        |  FROM d
        |), q AS (
        |  SELECT doc_id, n_tokens, CAST(
        |    CAST(0.4 AS DECIMAL(2,1)) * CAST(length_signal AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(diversity AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(stop_ratio AS DECIMAL(9,6)))
        |   AS DOUBLE) AS quality FROM s
        |), t AS (
        |  SELECT sum(n_tokens) // 2 AS budget FROM q
        |), cum AS (
        |  SELECT doc_id, n_tokens, quality,
        |   CAST(sum(n_tokens) OVER (
        |     ORDER BY quality DESC, doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q
        |)
        |SELECT doc_id, n_tokens, quality, cum_tokens,
        | cum_tokens <= t.budget AS selected
        |FROM cum, t""".stripMargin,
    // SemDeDup: the D8 closure + the T2 quality CTE + one representative
    // window — quality is bit-identical cross-engine, so the pick is too
    "q_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |), edges AS (
        |  SELECT a_id AS s, b_id AS d FROM p UNION ALL SELECT b_id, a_id FROM p
        |), reach(s, d) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
        |), c AS (
        |  SELECT s AS doc_id, min(d) AS cluster_id FROM reach GROUP BY s
        |), toks AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |   round(CAST(len(list_filter(toks, t -> list_contains(
        |     ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
        |   round(CAST(len(list_distinct(toks)) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE), 6) AS diversity,
        |   round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS length_signal
        |  FROM toks
        |), q AS (
        |  SELECT doc_id, CAST(
        |    CAST(0.4 AS DECIMAL(2,1)) * CAST(length_signal AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(diversity AS DECIMAL(9,6))
        |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(stop_ratio AS DECIMAL(9,6)))
        |   AS DOUBLE) AS quality FROM sig
        |), r AS (
        |  SELECT c.doc_id, c.cluster_id, q.quality,
        |   row_number() OVER (PARTITION BY c.cluster_id
        |     ORDER BY q.quality DESC, c.doc_id) AS rn
        |  FROM c JOIN q ON q.doc_id = c.doc_id
        |)
        |SELECT doc_id, cluster_id, quality, rn = 1 AS keep FROM r""".stripMargin,
    "q_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(ws[i:i+7], ' ') for i in generate_series(1, len(ws) - 7)]) AS gs
        |  FROM d WHERE len(ws) >= 8
        |), bench AS (
        |  SELECT list_distinct(flatten(list(gs))) AS bgs FROM g WHERE doc_id % 10 = 0
        |), corpus AS (
        |  SELECT d.doc_id, coalesce(g.gs, []) AS gs
        |  FROM d LEFT JOIN g ON d.doc_id = g.doc_id
        |  WHERE d.doc_id % 10 != 0
        |)
        |SELECT c.doc_id,
        | CAST(len(list_intersect(c.gs, coalesce(b.bgs, []))) AS BIGINT) AS hits,
        | len(list_intersect(c.gs, coalesce(b.bgs, []))) > 0 AS contaminated
        |FROM corpus c, bench b""".stripMargin,
    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |   CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS total_2grams,
        |   CAST(len(list_distinct([array_to_string(ws[i:i+1], ' ') for i in generate_series(1, len(ws) - 1)])) AS BIGINT) AS distinct_2grams,
        |   CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS total_3grams,
        |   CAST(len(list_distinct([array_to_string(ws[i:i+2], ' ') for i in generate_series(1, len(ws) - 2)])) AS BIGINT) AS distinct_3grams
        |  FROM d
        |)
        |SELECT *,
        | CASE WHEN total_2grams > 0 THEN round(1.0 - CAST(distinct_2grams AS DOUBLE) / CAST(total_2grams AS DOUBLE), 6) ELSE 0.0 END AS dup_ratio_2,
        | CASE WHEN total_3grams > 0 THEN round(1.0 - CAST(distinct_3grams AS DOUBLE) / CAST(total_3grams AS DOUBLE), 6) ELSE 0.0 END AS dup_ratio_3,
        | (CASE WHEN total_2grams > 0 THEN round(1.0 - CAST(distinct_2grams AS DOUBLE) / CAST(total_2grams AS DOUBLE), 6) ELSE 0.0 END) > 0.2 AS repetitive
        |FROM r""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH $packTapeSql
        |SELECT doc_id, n_tokens, tok_offset,
        | CAST(tok_offset // 512 AS BIGINT) AS seq_id,
        | CAST(tok_offset % 512 AS BIGINT) AS offset_in_seq
        |FROM c""".stripMargin,
    // tape intervals clipped to each sequence: a doc spanning k
    // boundaries yields k+1 rows, spans tile every sequence exactly
    "q_pack_spans" ->
      s"""WITH $packTapeSql, sp AS (
        |  SELECT doc_id, n_tokens, tok_offset,
        |   unnest(generate_series(tok_offset // 512,
        |     (tok_offset + n_tokens - 1) // 512)) AS seq_id
        |  FROM c
        |)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        | CAST(greatest(tok_offset - seq_id * 512, 0) AS BIGINT) AS start_in_seq,
        | CAST(least(tok_offset + n_tokens - seq_id * 512, 512) AS BIGINT) AS end_in_seq
        |FROM sp ORDER BY seq_id, start_in_seq""".stripMargin,
    // the shard manifest recomputed straight from the documents table
    // (tape cumsum -> seq -> shard -> per-(shard, source) rollup); the
    // engine reaches the same rows only through write -> partitioned
    // size-bounded files -> read-back, so hash-match proves the export
    // round-trip
    "q_export_manifest" ->
      s"""WITH $packTapeSql,
        |m AS (
        |  SELECT c.doc_id, c.n_tokens,
        |   CAST(tok_offset // 512 AS BIGINT) AS seq_id,
        |   CAST((tok_offset // 512) // 16 AS BIGINT) AS shard_id,
        |   doc.source
        |  FROM c JOIN documents doc ON doc.doc_id = c.doc_id
        |), ps AS (
        |  SELECT shard_id, source, CAST(count(*) AS BIGINT) AS src_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
        |   min(seq_id) AS src_first, max(seq_id) AS src_last
        |  FROM m GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard_id
        |    ORDER BY src_docs DESC, source) AS rn
        |  FROM ps
        |)
        |SELECT shard_id, CAST(sum(src_docs) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_sources,
        | CAST(sum(src_tokens) AS BIGINT) AS n_tokens,
        | min(src_first) AS first_seq, max(src_last) AS last_seq,
        | max(CASE WHEN rn = 1 THEN source END) AS top_source,
        | CAST(max(CASE WHEN rn = 1 THEN src_docs END) AS BIGINT) AS top_source_docs
        |FROM r GROUP BY shard_id""".stripMargin,
    // bucket-local next-fit replayed SEQUENTIALLY by a recursive CTE:
    // okey/bucket/order are the engine's exact formulas (width 15625001
    // = ceil(1000000007/64)); bin advances when the fill would exceed
    // 512, an oversized doc keeps a bin alone
    "q_pack_bins" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |   CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(
        |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS okey
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n_tokens, okey,
        |   CAST(okey // 15625001 AS INTEGER) AS bucket,
        |   CAST(row_number() OVER (
        |     PARTITION BY okey // 15625001 ORDER BY okey, doc_id) AS BIGINT) AS rn
        |  FROM d
        |), p(bucket, rn, doc_id, n_tokens, bin, off, fill) AS (
        |  SELECT bucket, rn, doc_id, n_tokens,
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT x.bucket, x.rn, x.doc_id, x.n_tokens,
        |   CASE WHEN p.fill > 0 AND p.fill + x.n_tokens > 512
        |     THEN p.bin + 1 ELSE p.bin END,
        |   CASE WHEN p.fill > 0 AND p.fill + x.n_tokens > 512
        |     THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |   CASE WHEN p.fill > 0 AND p.fill + x.n_tokens > 512
        |     THEN x.n_tokens ELSE p.fill + x.n_tokens END
        |  FROM o x JOIN p ON x.bucket = p.bucket AND x.rn = p.rn + 1
        |)
        |SELECT doc_id, n_tokens, bucket, bin AS bin_in_bucket,
        | off AS offset_in_bin,
        | CAST(bucket AS BIGINT) * 1099511627776 + bin AS bin_id
        |FROM p""".stripMargin,
    "q_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |   round(CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE), 6) AS score
        |  FROM tf JOIN df USING (token), n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS "rank"
        |  FROM scored
        |)
        |SELECT doc_id, "rank", token, tf, df, score
        |FROM ranked WHERE "rank" <= 5""".stripMargin,
    // vocab coverage: cumulative type-frequency share at k boundaries,
    // (count DESC, token) total order so the k-th cut is deterministic
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS t
        |  FROM documents
        |), c AS (
        |  SELECT t, count(*) AS c FROM tok GROUP BY 1
        |), r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS k,
        |   CAST(SUM(c) OVER (ORDER BY c DESC, t
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_tokens
        |  FROM c
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM c)
        |SELECT k, covered_tokens, total_tokens,
        | CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS coverage
        |FROM r, tot WHERE k IN (5, 10, 20)""".stripMargin,
    "q_lm_score" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |   unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM d
        |), g2 AS (
        |  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS prev FROM g
        |), cb AS (
        |  SELECT bigram, count(*) AS cb FROM g2 GROUP BY 1
        |), cp AS (
        |  SELECT prev, count(*) AS cp FROM g2 GROUP BY 1
        |), v AS (
        |  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM d)
        |), s AS (
        |  SELECT g2.doc_id,
        |   CAST(round(ln(CAST(cb.cb + 1 AS DOUBLE) / CAST(cp.cp + v.v AS DOUBLE)), 6)
        |     AS DECIMAL(18,6)) AS lp
        |  FROM g2 JOIN cb USING (bigram) JOIN cp USING (prev), v
        |), a AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |   CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logp
        |  FROM s GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 6) AS ppl,
        | avg_logp >= -3.45 AS keep
        |FROM a""".stripMargin,
    // novelty: the jaccard shingle CTE + a gram-df aggregate
    "q_novelty" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |     for i in generate_series(1, len(ws) - 2)]) AS gs
        |  FROM d WHERE len(ws) >= 3
        |), s AS (
        |  SELECT doc_id, unnest(gs) AS sh FROM g
        |), f AS (
        |  SELECT sh, count(*) AS df FROM s GROUP BY 1
        |)
        |SELECT s.doc_id, count(*) AS n_grams,
        | CAST(count(*) FILTER (f.df = 1) AS BIGINT) AS n_novel,
        | CAST(count(*) FILTER (f.df = 1) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS novelty
        |FROM s JOIN f USING (sh) GROUP BY 1""".stripMargin,
    // BPE fixture: per-doc stats replayed from the PINNED per-word
    // token counts (the engine runs the real merge folds; the pins are
    // drift-guarded by BpeSpec against trainer + scalar reference)
    "q_bpe_fixture" ->
      s"""WITH fdocs(doc_id, text) AS (VALUES
        |  ${graft.text.BpeFixture.docsValuesSql}
        |), w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM fdocs
        |), enc(word, n_toks) AS (VALUES
        |  ${graft.text.BpeFixture.wordValuesSql}
        |)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(e.n_toks) AS BIGINT) AS n_bpe_tokens
        |FROM w JOIN enc e ON e.word = w.word
        |GROUP BY 1""".stripMargin,
    // char entropy: per-character 6dp terms summed as exact decimals
    "q_char_entropy" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        |  FROM documents
        |), ch AS (
        |  SELECT doc_id, unnest(string_split(t, '')) AS c FROM d
        |), cnt AS (
        |  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1
        |), t AS (
        |  SELECT cnt.doc_id, tot.n,
        |   CAST(round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |     * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS term
        |  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
        |)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        | CAST(-sum(term) AS DOUBLE) AS entropy
        |FROM t GROUP BY 1""".stripMargin,
    "q_column_stats" -> Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
         | CAST(count(*) - count($c) AS BIGINT) AS nulls,
         | CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         | CAST(min($c) AS DOUBLE) AS min_val,
         | CAST(max($c) AS DOUBLE) AS max_val
         |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n"),
    "q_histogram" ->
      """WITH s AS (
        |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |   CAST(max(l_extendedprice) AS DOUBLE) AS mx
        |  FROM lineitem
        |), b AS (
        |  SELECT CASE WHEN s.mx = s.mn THEN 0 ELSE
        |    least(CAST(floor((l_extendedprice - s.mn)
        |      / ((s.mx - s.mn) / 10.0)) AS BIGINT), 9) END AS bucket,
        |   s.mn, (s.mx - s.mn) / 10.0 AS w
        |  FROM lineitem, s
        |), g AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |   min(mn) AS mn, min(w) AS w
        |  FROM b GROUP BY 1
        |)
        |SELECT bucket, n, mn + CAST(bucket AS DOUBLE) * w AS lo,
        | mn + (CAST(bucket AS DOUBLE) + 1.0) * w AS hi
        |FROM g""".stripMargin,
    "q_pmi_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), pr AS (
        |  SELECT unnest(flatten(list_transform(range(1, 4), j ->
        |    list_transform(range(1, len(toks) - j + 1), i ->
        |      least(toks[i], toks[i+j]) || ' ' || greatest(toks[i], toks[i+j]))))) AS pair
        |  FROM d
        |), pc AS (
        |  SELECT pair, count(*) AS c_ab FROM pr GROUP BY 1
        |), u AS (
        |  SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM d) GROUP BY 1
        |), tp AS (
        |  SELECT sum(c_ab) AS t_pairs FROM pc
        |), tu AS (
        |  SELECT sum(c) AS t_uni FROM u
        |), s AS (
        |  SELECT string_split(pair, ' ')[1] AS tok_a,
        |   string_split(pair, ' ')[2] AS tok_b, c_ab
        |  FROM pc WHERE c_ab >= 5
        |)
        |SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS c_ab,
        | round(ln((CAST(c_ab AS DOUBLE) / CAST(t_pairs AS DOUBLE))
        |   / ((CAST(ca.c AS DOUBLE) / CAST(t_uni AS DOUBLE))
        |      * (CAST(cb.c AS DOUBLE) / CAST(t_uni AS DOUBLE)))), 6) AS pmi
        |FROM s JOIN u ca ON ca.t = s.tok_a JOIN u cb ON cb.t = s.tok_b, tp, tu""".stripMargin,
    "q_bm25_search" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d
        |), stats AS (
        |  SELECT count(*) AS n, sum(dl) AS tl FROM dl
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(toks) AS term FROM dl
        |  ) WHERE term IN ('spark', 'join', 'vector', 'window')
        |  GROUP BY 1, 2, 3
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.doc_id, CAST(round(
        |    ln(1.0 + (CAST(stats.n - df.df AS DOUBLE) + 0.5)
        |             / (CAST(df.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
        |                / (CAST(stats.tl AS DOUBLE) / CAST(stats.n AS DOUBLE))))),
        |   6) AS DECIMAL(18,6)) AS w
        |  FROM tf JOIN df USING (term), stats
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |   CAST(sum(w) AS DOUBLE) AS score
        |  FROM scored GROUP BY 1
        |), ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |     AS "rank", doc_id, n_terms, score
        |  FROM agg
        |)
        |SELECT "rank", doc_id, n_terms, score FROM ranked WHERE "rank" <= 10""".stripMargin,
    // hybrid fusion: the bm25 CTE (k=20) + the single-query dense CTE
    // (mirrors q_ann_topk's list_cosine_similarity ranking), fused as
    // 1/(60+rank) sums — integer-exact ranks make the doubles identical
    "q_hybrid_search" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d
        |), stats AS (
        |  SELECT count(*) AS n, sum(dl) AS tl FROM dl
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(toks) AS term FROM dl
        |  ) WHERE term IN ('spark', 'join', 'vector', 'window')
        |  GROUP BY 1, 2, 3
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.doc_id, CAST(round(
        |    ln(1.0 + (CAST(stats.n - df.df AS DOUBLE) + 0.5)
        |             / (CAST(df.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
        |                / (CAST(stats.tl AS DOUBLE) / CAST(stats.n AS DOUBLE))))),
        |   6) AS DECIMAL(18,6)) AS w
        |  FROM tf JOIN df USING (term), stats
        |), agg AS (
        |  SELECT doc_id, CAST(sum(w) AS DOUBLE) AS score
        |  FROM scored GROUP BY 1
        |), sparse AS (
        |  SELECT doc_id, rank_sparse FROM (
        |    SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank_sparse
        |    FROM agg
        |  ) WHERE rank_sparse <= 20
        |), e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (
        |  SELECT v FROM e WHERE vec_id = 0
        |), p AS (
        |  SELECT e.vec_id AS doc_id, list_cosine_similarity(e.v, q.v) AS c
        |  FROM e, q WHERE e.vec_id != 0
        |), dense AS (
        |  SELECT doc_id, rank_dense FROM (
        |    SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY c DESC, doc_id) AS BIGINT) AS rank_dense
        |    FROM p
        |  ) WHERE rank_dense <= 20
        |), fused AS (
        |  SELECT coalesce(sparse.doc_id, dense.doc_id) AS doc_id,
        |   coalesce(sparse.rank_sparse, -1) AS rank_sparse,
        |   coalesce(dense.rank_dense, -1) AS rank_dense,
        |   round(coalesce(CAST(1 AS DOUBLE) / (60 + sparse.rank_sparse), 0.0)
        |       + coalesce(CAST(1 AS DOUBLE) / (60 + dense.rank_dense), 0.0),
        |     6) AS rrf
        |  FROM sparse FULL OUTER JOIN dense ON sparse.doc_id = dense.doc_id
        |)
        |SELECT "rank", doc_id, rank_sparse, rank_dense, rrf FROM (
        |  SELECT CAST(row_number() OVER (
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS "rank", *
        |  FROM fused
        |) WHERE "rank" <= 10""".stripMargin,
    // z-score outliers: moments via exact decimal sums, final
    // arithmetic in doubles — mirrored operation for operation so the
    // |z| > 3 cut lands identically
    "q_outliers" ->
      """WITH b AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,6)) AS x
        |  FROM events
        |), m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS s1, sum(x * x) AS s2
        |  FROM b GROUP BY 1
        |), mm AS (
        |  SELECT event_type,
        |   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean, n, s2
        |  FROM m
        |), st AS (
        |  SELECT event_type, mean,
        |   sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |     - mean * mean, 0.0)) AS sd
        |  FROM mm
        |)
        |SELECT b.event_id, b.event_type, CAST(b.x AS DOUBLE) AS value,
        | round((CAST(b.x AS DOUBLE) - mean) / sd, 6) AS z
        |FROM b JOIN st USING (event_type)
        |WHERE sd > 0.0 AND abs((CAST(b.x AS DOUBLE) - mean) / sd) > 3.0""".stripMargin,
    // corpus report: quality CTE + dedup closure + per-source rollup
    "q_corpus_report" ->
      s"""WITH $textClosureSql,
        |$reportQualityCtes
        |SELECT q.source, count(*) AS n_docs,
        | CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
        | CAST(sum(q.qd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_quality,
        | CAST(count(*) FILTER (q.keep) AS BIGINT) AS n_keep,
        | CAST(count(*) FILTER (cl.doc_id = cl.cluster_id) AS BIGINT) AS n_canonical
        |FROM q JOIN cl ON cl.doc_id = q.doc_id
        |GROUP BY 1""".stripMargin,
    // the report with the image columns: canonical count over decodable
    // assets (LEFT JOIN absence = undecodable, counted separately)
    "q_corpus_report_mm" ->
      s"""WITH $textClosureSql,
        |$imageClosureCtes,
        |$reportQualityCtes
        |SELECT q.source, count(*) AS n_docs,
        | CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
        | CAST(sum(q.qd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_quality,
        | CAST(count(*) FILTER (q.keep) AS BIGINT) AS n_keep,
        | CAST(count(*) FILTER (cl.doc_id = cl.cluster_id) AS BIGINT) AS n_canonical,
        | CAST(count(*) FILTER (icanon.img_canonical) AS BIGINT) AS n_img_canonical,
        | CAST(count(*) FILTER (icanon.doc_id IS NULL) AS BIGINT) AS n_undecodable
        |FROM q JOIN cl ON cl.doc_id = q.doc_id
        |LEFT JOIN icanon ON icanon.doc_id = q.doc_id
        |GROUP BY 1""".stripMargin,
    // cross-source contamination: the same recursive closure, then an
    // all-integer per-(cluster, source) count self-join
    "q_cross_source_dups" ->
      s"""WITH $textClosureSql,
        |cs AS (
        |  SELECT cl.cluster_id, d.source, count(*) AS cnt
        |  FROM cl JOIN documents d USING (doc_id)
        |  GROUP BY 1, 2
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        | CAST(count(*) AS BIGINT) AS n_shared_clusters,
        | CAST(sum(a.cnt * b.cnt) AS BIGINT) AS n_cross_pairs
        |FROM cs a JOIN cs b
        |  ON a.cluster_id = b.cluster_id AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // integrity gate: the plant replayed in SQL, then the three checks
    "q_integrity_check" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 500000000, o_custkey + 90000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 1
        |)
        |SELECT 'orphan_o_custkey' AS "check", CAST(count(*) AS BIGINT) AS n_bad
        |FROM t WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c WHERE c.c_custkey = t.o_custkey)
        |UNION ALL
        |SELECT 'dup_o_orderkey', CAST(count(*) AS BIGINT) FROM (
        |  SELECT o_orderkey FROM t GROUP BY 1 HAVING count(*) > 1
        |)
        |UNION ALL
        |SELECT 'negative_o_totalprice', CAST(count(*) AS BIGINT)
        |FROM t WHERE o_totalprice < 0""".stripMargin,
    // winsorized stats: quantile_cont ≡ Spark percentile (exact
    // interpolated), decimal-exact clipped sum
    "q_winsorized" ->
      """WITH q AS (
        |  SELECT event_type,
        |   quantile_cont(value, 0.05) AS p05,
        |   quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT e.event_type, e.value, q.p05, q.p95,
        |   CAST(least(greatest(e.value, q.p05), q.p95) AS DECIMAL(18,6)) AS clipped
        |  FROM events e JOIN q USING (event_type)
        |)
        |SELECT event_type, count(*) AS n,
        | CAST(count(*) FILTER (value < p05 OR value > p95) AS BIGINT) AS n_clipped,
        | min(p05) AS p05, min(p95) AS p95,
        | CAST(sum(clipped) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS win_mean
        |FROM b GROUP BY 1""".stripMargin,
    // deciles: identical deterministic order, standard ntile semantics
    "q_deciles" ->
      """SELECT event_id, event_type, value,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value, event_id) AS BIGINT) AS decile
        |FROM events""".stripMargin,
    // label propagation: 2 unrolled synchronous rounds; seeds clamped
    // via coalesce(seed, majority, previous); ties broken by smallest
    // label — mirrors LabelProp.propagate vote for vote
    "q_label_prop" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |   AND list_cosine_similarity(a.v, b.v) >= 0.25
        |), sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM p
        |), l0 AS (
        |  SELECT vec_id AS id,
        |   CASE WHEN vec_id % 5 = 0 THEN label END AS seed,
        |   CASE WHEN vec_id % 5 = 0 THEN label END AS label
        |  FROM embeddings
        |), v1 AS (
        |  SELECT sym.dst AS id, l.label AS l, count(*) AS n
        |  FROM sym JOIN l0 l ON l.id = sym.src
        |  WHERE l.label IS NOT NULL GROUP BY 1, 2
        |), w1 AS (
        |  SELECT id, l AS maj FROM (
        |    SELECT id, l, row_number() OVER (
        |      PARTITION BY id ORDER BY n DESC, l) AS rn FROM v1
        |  ) WHERE rn = 1
        |), l1 AS (
        |  SELECT l0.id, l0.seed,
        |   coalesce(l0.seed, w1.maj, l0.label) AS label
        |  FROM l0 LEFT JOIN w1 ON w1.id = l0.id
        |), v2 AS (
        |  SELECT sym.dst AS id, l.label AS l, count(*) AS n
        |  FROM sym JOIN l1 l ON l.id = sym.src
        |  WHERE l.label IS NOT NULL GROUP BY 1, 2
        |), w2 AS (
        |  SELECT id, l AS maj FROM (
        |    SELECT id, l, row_number() OVER (
        |      PARTITION BY id ORDER BY n DESC, l) AS rn FROM v2
        |  ) WHERE rn = 1
        |), l2 AS (
        |  SELECT l1.id, l1.seed,
        |   coalesce(l1.seed, w2.maj, l1.label) AS label
        |  FROM l1 LEFT JOIN w2 ON w2.id = l1.id
        |)
        |SELECT id AS vec_id, coalesce(seed, -1) AS seed_label,
        | coalesce(label, -1) AS label
        |FROM l2""".stripMargin,
    // degree-oriented triangle counting: orient each edge from the
    // smaller (deg, id) endpoint, count closed (u->v1, u->v2, v1-v2)
    // wedges — each triangle once — then explode to per-node counts
    "q_triangles" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |   AND list_cosine_similarity(a.v, b.v) >= 0.25
        |), sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION ALL
        |  SELECT b_id, a_id FROM p
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM sym GROUP BY 1
        |), o AS (
        |  SELECT
        |   CASE WHEN (da.deg, p.a_id) < (db.deg, p.b_id)
        |     THEN p.a_id ELSE p.b_id END AS u,
        |   CASE WHEN (da.deg, p.a_id) < (db.deg, p.b_id)
        |     THEN p.b_id ELSE p.a_id END AS v
        |  FROM p JOIN deg da ON da.src = p.a_id JOIN deg db ON db.src = p.b_id
        |), tri AS (
        |  SELECT x.u, x.v AS v1, y.v AS v2
        |  FROM o x JOIN o y ON x.u = y.u AND x.v < y.v
        |  JOIN p ON p.a_id = least(x.v, y.v) AND p.b_id = greatest(x.v, y.v)
        |), pern AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT v1 FROM tri
        |    UNION ALL SELECT v2 FROM tri)
        |  GROUP BY 1
        |)
        |SELECT emb.vec_id, CAST(coalesce(pern.triangles, 0) AS BIGINT) AS triangles
        |FROM embeddings emb LEFT JOIN pern ON pern.node = emb.vec_id""".stripMargin,
    // integer fixed-point PageRank: base = 1e9/N, share = pr div deg,
    // pr' = (15*base) div 100 + (85*inflow) div 100 — all BIGINT, three
    // rounds unrolled (DuckDB // is integer division)
    "q_pagerank" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |   AND list_cosine_similarity(a.v, b.v) >= 0.25
        |), sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM p
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM sym GROUP BY 1
        |), c AS (
        |  SELECT 1000000000 // count(*) AS base FROM embeddings
        |), r0 AS (
        |  SELECT vec_id AS node, base AS pr FROM embeddings, c
        |), i1 AS (
        |  SELECT sym.dst AS node, sum(r.pr // d.deg) AS inflow
        |  FROM r0 r JOIN deg d ON d.src = r.node JOIN sym ON sym.src = r.node
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT v.vec_id AS node,
        |   (15 * c.base) // 100 + (coalesce(i.inflow, 0) * 85) // 100 AS pr
        |  FROM embeddings v CROSS JOIN c LEFT JOIN i1 i ON i.node = v.vec_id
        |), i2 AS (
        |  SELECT sym.dst AS node, sum(r.pr // d.deg) AS inflow
        |  FROM r1 r JOIN deg d ON d.src = r.node JOIN sym ON sym.src = r.node
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT v.vec_id AS node,
        |   (15 * c.base) // 100 + (coalesce(i.inflow, 0) * 85) // 100 AS pr
        |  FROM embeddings v CROSS JOIN c LEFT JOIN i2 i ON i.node = v.vec_id
        |), i3 AS (
        |  SELECT sym.dst AS node, sum(r.pr // d.deg) AS inflow
        |  FROM r2 r JOIN deg d ON d.src = r.node JOIN sym ON sym.src = r.node
        |  GROUP BY 1
        |), r3 AS (
        |  SELECT v.vec_id AS node,
        |   (15 * c.base) // 100 + (coalesce(i.inflow, 0) * 85) // 100 AS pr
        |  FROM embeddings v CROSS JOIN c LEFT JOIN i3 i ON i.node = v.vec_id
        |)
        |SELECT node AS vec_id, CAST(pr AS BIGINT) AS pr FROM r3""".stripMargin,
    // blocked fuzzy join: the corruption, the (first-token, length-band)
    // blocking AND the levenshtein verify all replayed; levenshtein is
    // the same unit-cost edit distance in both engines
    "q_fuzzy_join" ->
      """WITH l AS (
        |  SELECT min(p_partkey) AS a_id, p_name AS na FROM part GROUP BY p_name
        |), r AS (
        |  SELECT p_partkey + 100000 AS b_id,
        |   CASE CAST(p_partkey % 3 AS INTEGER)
        |     WHEN 0 THEN substr(p_name, 1, CAST(length(p_name) - 1 AS INTEGER))
        |     WHEN 1 THEN substr(p_name, 1, CAST(length(p_name) - 2 AS INTEGER))
        |     ELSE p_name END AS nb
        |  FROM part
        |), cand AS (
        |  SELECT l.a_id, r.b_id, l.na, r.nb
        |  FROM l JOIN r
        |   ON split_part(l.na, ' ', 1) = split_part(r.nb, ' ', 1)
        |   AND abs(length(l.na) - length(r.nb)) <= 1
        |), pairs AS (
        |  SELECT a_id, b_id, CAST(levenshtein(na, nb) AS BIGINT) AS dist
        |  FROM cand WHERE levenshtein(na, nb) <= 1
        |), best AS (
        |  SELECT b_id, a_id, dist,
        |   row_number() OVER (PARTITION BY b_id ORDER BY dist, a_id) AS rn
        |  FROM pairs
        |)
        |SELECT b_id, a_id AS match_id, dist FROM best WHERE rn = 1""".stripMargin,
    // per-key skew profile: counts per key, quantile_cont over the
    // count distribution (== Spark frequency-weighted percentile),
    // top-10 share with the same (c desc, k) tiebreak
    "q_key_skew" ->
      """WITH k1 AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |k2 AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |k3 AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |k4 AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |s1 AS (
        |  SELECT 'l_orderkey' AS key_name, CAST(sum(c) AS BIGINT) AS n_rows,
        |   CAST(count(*) AS BIGINT) AS n_keys, max(c) AS max_cnt,
        |   quantile_cont(c, [0.5, 0.9, 0.99]) AS pcts,
        |   (SELECT CAST(sum(c) AS BIGINT) FROM
        |     (SELECT c FROM k1 ORDER BY c DESC, k LIMIT 10)) AS top10_rows
        |  FROM k1
        |), s2 AS (
        |  SELECT 'l_partkey', CAST(sum(c) AS BIGINT),
        |   CAST(count(*) AS BIGINT), max(c),
        |   quantile_cont(c, [0.5, 0.9, 0.99]),
        |   (SELECT CAST(sum(c) AS BIGINT) FROM
        |     (SELECT c FROM k2 ORDER BY c DESC, k LIMIT 10))
        |  FROM k2
        |), s3 AS (
        |  SELECT 'l_suppkey', CAST(sum(c) AS BIGINT),
        |   CAST(count(*) AS BIGINT), max(c),
        |   quantile_cont(c, [0.5, 0.9, 0.99]),
        |   (SELECT CAST(sum(c) AS BIGINT) FROM
        |     (SELECT c FROM k3 ORDER BY c DESC, k LIMIT 10))
        |  FROM k3
        |), s4 AS (
        |  SELECT 'o_custkey', CAST(sum(c) AS BIGINT),
        |   CAST(count(*) AS BIGINT), max(c),
        |   quantile_cont(c, [0.5, 0.9, 0.99]),
        |   (SELECT CAST(sum(c) AS BIGINT) FROM
        |     (SELECT c FROM k4 ORDER BY c DESC, k LIMIT 10))
        |  FROM k4
        |), u AS (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |)
        |SELECT key_name, n_rows, n_keys, max_cnt,
        | CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_cnt,
        | pcts[1] AS p50, pcts[2] AS p90, pcts[3] AS p99,
        | CAST(max_cnt AS DOUBLE)
        |  / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew,
        | CAST(top10_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share
        |FROM u""".stripMargin,
    // per-source token drift: KL via 6dp-decimal weighted log ratios
    // (one final division), TV exactly in integers over the common
    // denominator n_s*n_c with the closed-form absent-token correction
    "q_token_drift" ->
      """WITH d AS (
        |  SELECT source,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), tk AS (
        |  SELECT source, unnest(toks) AS t FROM d
        |), st AS (
        |  SELECT source, t, count(*) AS c_st FROM tk GROUP BY 1, 2
        |), ct AS (
        |  SELECT t, CAST(sum(c_st) AS BIGINT) AS c_ct FROM st GROUP BY 1
        |), ns AS (
        |  SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1
        |), nc AS (
        |  SELECT CAST(sum(c_ct) AS BIGINT) AS n_c FROM ct
        |), j AS (
        |  SELECT st.source, st.c_st, ct.c_ct, ns.n_s, nc.n_c,
        |   CAST(round(ln(CAST(st.c_st * nc.n_c AS DOUBLE)
        |     / CAST(ns.n_s * ct.c_ct AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
        |  FROM st JOIN ct USING (t) JOIN ns USING (source), nc
        |), a AS (
        |  SELECT source,
        |   max(n_s) AS n_tokens,
        |   CAST(count(*) AS BIGINT) AS distinct_tokens,
        |   sum(CAST(c_st AS DECIMAL(18,0)) * lr) AS klnum,
        |   CAST(sum(abs(c_st * n_c - c_ct * n_s)) AS BIGINT) AS tvpresent,
        |   CAST(sum(c_ct) AS BIGINT) AS cct_sum,
        |   max(n_c) AS n_c
        |  FROM j GROUP BY 1
        |)
        |SELECT source, n_tokens, distinct_tokens,
        | CAST(klnum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS kl,
        | CAST(tvpresent + n_tokens * (n_c - cct_sum) AS DOUBLE)
        |  / (CAST(2.0 AS DOUBLE) * CAST(n_tokens AS DOUBLE) * CAST(n_c AS DOUBLE)) AS tv
        |FROM a""".stripMargin,
    // embedding-centroid drift: exact DECIMAL(18,9) per-dim sums, the
    // ONE double expression written identically to the Spark side
    "q_embed_drift" ->
      """WITH u AS (
        |  SELECT label, t.i, CAST(e.embedding[t.i] AS DECIMAL(18,9)) AS x
        |  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
        |), sl AS (
        |  SELECT label, i, CAST(sum(x) AS DECIMAL(18,9)) AS s, count(*) AS n
        |  FROM u GROUP BY 1, 2
        |), sg AS (
        |  SELECT i, CAST(sum(s) AS DECIMAL(18,9)) AS g FROM sl GROUP BY 1
        |), a AS (
        |  SELECT label, max(n) AS n_vecs,
        |   sum(s * g) AS dot, sum(s * s) AS na2, sum(g * g) AS nb2
        |  FROM sl JOIN sg USING (i) GROUP BY 1
        |)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        | CAST(CAST(CAST(dot AS DOUBLE) /
        |   (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
        |  AS DECIMAL(18,6)) AS DOUBLE) AS centroid_cosine
        |FROM a""".stripMargin,
    // DSIR importance weights: two add-1 bigram LMs (target slice vs the
    // rest) under the q_lm_score 6dp-round-then-DECIMAL contract; the
    // per-doc score is an exact decimal-difference sum over one division
    "q_dsir_weights" ->
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |   unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM d
        |), g2 AS (
        |  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS prev FROM g
        |), cbt AS (
        |  SELECT bigram, count(*) AS cb_t FROM g2 WHERE doc_id % 10 = 3 GROUP BY 1
        |), cpt AS (
        |  SELECT prev, count(*) AS cp_t FROM g2 WHERE doc_id % 10 = 3 GROUP BY 1
        |), cbr AS (
        |  SELECT bigram, count(*) AS cb_r FROM g2 WHERE doc_id % 10 <> 3 GROUP BY 1
        |), cpr AS (
        |  SELECT prev, count(*) AS cp_r FROM g2 WHERE doc_id % 10 <> 3 GROUP BY 1
        |), vt AS (
        |  SELECT count(DISTINCT t) AS v_t FROM (
        |    SELECT unnest(toks) AS t FROM d WHERE doc_id % 10 = 3)
        |), vr AS (
        |  SELECT count(DISTINCT t) AS v_r FROM (
        |    SELECT unnest(toks) AS t FROM d WHERE doc_id % 10 <> 3)
        |), s AS (
        |  SELECT g2.doc_id,
        |   CAST(round(ln(CAST(coalesce(cbt.cb_t, 0) + 1 AS DOUBLE)
        |     / CAST(coalesce(cpt.cp_t, 0) + vt.v_t AS DOUBLE)), 6)
        |     AS DECIMAL(18,6)) AS lp_t,
        |   CAST(round(ln(CAST(cbr.cb_r + 1 AS DOUBLE)
        |     / CAST(cpr.cp_r + vr.v_r AS DOUBLE)), 6)
        |     AS DECIMAL(18,6)) AS lp_r
        |  FROM g2
        |  LEFT JOIN cbt USING (bigram)
        |  LEFT JOIN cpt USING (prev)
        |  JOIN cbr USING (bigram)
        |  JOIN cpr USING (prev), vt, vr
        |  WHERE g2.doc_id % 10 <> 3
        |), a AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |   CAST(sum(lp_t - lp_r) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS log_ratio
        |  FROM s GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, log_ratio, log_ratio >= -0.15 AS keep
        |FROM a""".stripMargin,
    "q_split_assign" ->
      s"""WITH d AS (
        |  SELECT doc_id, $splitKeySql AS h_mod
        |  FROM documents
        |)
        |SELECT doc_id, CAST(h_mod AS BIGINT) AS h_mod,
        | CASE WHEN h_mod < 90 THEN 'train' WHEN h_mod < 95 THEN 'val' ELSE 'test' END AS split
        |FROM d""".stripMargin,
    // the from-scratch HLL replayed end-to-end: both rolling-hash
    // folds, the 30-bit rescale + bitLength rank, per-bucket max
    // registers, the integer positional checksum, and the
    // alpha*m^2/Z / linear-counting estimator. Z sums powers of two
    // spanning < 53 bits (exact in double, order-independent); alpha
    // and both divisions are single IEEE ops on identical operands;
    // ln rides the T14 round-at-fixed-dp contract.
    "q_hll_ndv" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS s
        |  FROM events WHERE user_id IS NOT NULL
        |), h AS (
        |  SELECT event_type,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS h1,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 131 + b) % 998244353) AS h2
        |  FROM u
        |), r AS (
        |  SELECT event_type, h1 % 1024 AS bucket,
        |   CASE WHEN (h2 * 1073741824) // 998244353 = 0 THEN 31
        |        ELSE 31 - length(bin((h2 * 1073741824) // 998244353)) END AS rnk
        |  FROM h
        |), regs AS (
        |  SELECT event_type, bucket, max(rnk) AS m FROM r GROUP BY 1, 2
        |), agg AS (
        |  SELECT event_type,
        |   CAST(sum(m) AS BIGINT) AS reg_sum,
        |   CAST(sum((bucket + 1) * m) AS BIGINT) AS reg_checksum,
        |   CAST(1024 - count(*) AS BIGINT) AS zero_regs,
        |   sum(power(2.0, -m)) AS z_present
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT event_type, reg_sum, reg_checksum, zero_regs,
        |   (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 1024))
        |     * 1024 * 1024 / (zero_regs + z_present) AS e_raw
        |  FROM agg
        |), x AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT e.event_type, e.reg_sum, e.reg_checksum, e.zero_regs,
        | round(CASE WHEN e.e_raw <= 2560.0 AND e.zero_regs > 0
        |            THEN 1024.0 * ln(1024.0 / e.zero_regs)
        |            ELSE e.e_raw END, 4) AS est_ndv,
        | x.exact_ndv
        |FROM est e JOIN x USING (event_type)""".stripMargin,
    // the KMV bottom-k sketch replayed end-to-end: distinct per-source
    // 8-gram shingle rolling hashes, row_number <= 256 IS the sketch,
    // estimate = 255 * M / h_k (one exact double product < 2^53, one
    // IEEE division on identical operands)
    "q_kmv_ndv" -> kmvNdvSqlFrom("documents"),
    // the dataset card: every number computed by an independently-
    // oracled stage, replayed here corpus-level — volume/quality from
    // the tokenize pass, duplication from the T6 closure (nested so CTE
    // names cannot collide), contamination from the D8 gate, split
    // balance from the T10 key, cardinality from one global KMV sketch
    "q_data_card" ->
      s"""WITH qrows AS MATERIALIZED (
        |  SELECT * FROM (WITH $reportQualityCtes
        |    SELECT doc_id, n_tokens, qd, keep FROM q)
        |), clrows AS MATERIALIZED (
        |  SELECT * FROM (WITH ${textClosureSqlFrom("documents")}
        |    SELECT doc_id, cluster_id FROM cl)
        |), dcrows AS MATERIALIZED (
        |  SELECT * FROM (
        |    WITH d AS (
        |      SELECT doc_id,
        |       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |      FROM documents
        |    ), g8 AS (
        |      SELECT doc_id, list_distinct(
        |        [array_to_string(toks[i:i+7], ' ') for i in generate_series(1, len(toks) - 7)]) AS gs
        |      FROM d WHERE len(toks) >= 8
        |    ), bench AS (
        |      SELECT list_distinct(flatten(list(gs))) AS bgs FROM g8 WHERE doc_id % 10 = 0
        |    ), corpus AS (
        |      SELECT d.doc_id, coalesce(g8.gs, []) AS gs
        |      FROM d LEFT JOIN g8 USING (doc_id)
        |      WHERE d.doc_id % 10 != 0
        |    )
        |    SELECT c.doc_id,
        |     NOT (len(list_intersect(c.gs, coalesce(b.bgs, []))) = 0) AS contaminated
        |    FROM corpus c, bench b)
        |), sprows AS (
        |  SELECT doc_id,
        |   CASE WHEN $splitKeySql < 90 THEN 'train'
        |        WHEN $splitKeySql < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM documents
        |), khg AS (
        |  SELECT DISTINCT
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (
        |    SELECT DISTINCT g FROM (
        |      SELECT unnest(list_distinct(
        |        [array_to_string(toks[i:i+7], ' ') for i in generate_series(1, len(toks) - 7)])) AS g
        |      FROM (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        |            FROM documents) WHERE len(toks) >= 8
        |    )
        |  )
        |), gsk AS (
        |  SELECT CAST(count(*) AS INTEGER) AS n_sketch, max(h) AS kth FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM khg) WHERE rn <= 256
        |), imgu AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN p.asset_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS value
        |  FROM documents d LEFT JOIN (WITH $phashHashSql SELECT asset_id FROM phash) p
        |    ON p.asset_id = d.doc_id
        |), jpgu AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN p.asset_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS value
        |  FROM documents d LEFT JOIN (WITH $jpegHashSql SELECT asset_id FROM jphash) p
        |    ON p.asset_id = d.doc_id
        |), audu AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN p.asset_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS value
        |  FROM documents d LEFT JOIN (WITH $ahashHashSql SELECT asset_id FROM ahash) p
        |    ON p.asset_id = d.doc_id
        |), vidu AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN p.asset_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS value
        |  FROM documents d LEFT JOIN (WITH $vhashHashSql SELECT asset_id FROM vhash) p
        |    ON p.asset_id = d.doc_id
        |), card AS (
        |  SELECT 'volume.n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
        |  UNION ALL
        |  SELECT 'volume.n_tokens', CAST(sum(n_tokens) AS DOUBLE) FROM qrows
        |  UNION ALL
        |  SELECT 'volume.n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT 'quality.avg_quality',
        |   CAST(sum(qd) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM qrows
        |  UNION ALL
        |  SELECT 'quality.keep_rate',
        |   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM qrows
        |  UNION ALL
        |  SELECT 'dedup.n_clusters', CAST(count(DISTINCT cluster_id) AS DOUBLE) FROM clrows
        |  UNION ALL
        |  SELECT 'dedup.canonical_rate',
        |   CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM clrows
        |  UNION ALL
        |  SELECT 'decontam.contaminated_rate',
        |   CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM dcrows
        |  UNION ALL
        |  SELECT 'split.train_frac',
        |   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM sprows
        |  UNION ALL
        |  SELECT 'split.val_frac',
        |   CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM sprows
        |  UNION ALL
        |  SELECT 'split.test_frac',
        |   CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM sprows
        |  UNION ALL
        |  SELECT 'media.image_undecodable_rate', value FROM imgu
        |  UNION ALL
        |  SELECT 'media.jpeg_undecodable_rate', value FROM jpgu
        |  UNION ALL
        |  SELECT 'media.audio_undecodable_rate', value FROM audu
        |  UNION ALL
        |  SELECT 'media.video_undecodable_rate', value FROM vidu
        |  UNION ALL
        |  SELECT 'sketch.shingle_ndv_est',
        |   CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |        ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(kth AS DOUBLE) END
        |  FROM gsk
        |)
        |SELECT metric, round(value, 6) AS value FROM card ORDER BY metric""".stripMargin,

    "q_embed_pca" -> embedPcaSql,
    "q_embed_project" -> embedProjectSql,
    // ingest novelty by KMV set algebra: old/new shingle sketches per
    // source (row_number <= 256 twice, CTE chains nested as subqueries
    // so names cannot collide), union sketch, match fraction, and
    // novelty = (1 - J) * union; exact novelty via one anti join
    "q_kmv_drift" ->
      s"""WITH oldkh AS MATERIALIZED (
        |  SELECT * FROM (WITH ${kmvHashSqlFrom(
             "(SELECT * FROM documents WHERE doc_id % 13 <> 5)")}
        |    SELECT * FROM kh)
        |), newkh AS MATERIALIZED (
        |  SELECT * FROM (WITH ${kmvHashSqlFrom("documents")}
        |    SELECT * FROM kh)
        |), sko AS (
        |  SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM oldkh) WHERE rn <= 256
        |), skn AS (
        |  SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM newkh) WHERE rn <= 256
        |), uni AS (
        |  SELECT DISTINCT source, h FROM (
        |    SELECT source, h FROM sko UNION ALL SELECT source, h FROM skn)
        |), usk AS (
        |  SELECT source, h,
        |   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM uni
        |), fl AS (
        |  SELECT u.source, u.h,
        |   (o.h IS NOT NULL) AS in_old, (n.h IS NOT NULL) AS in_new
        |  FROM usk u
        |  LEFT JOIN sko o ON o.source = u.source AND o.h = u.h
        |  LEFT JOIN skn n ON n.source = u.source AND n.h = u.h
        |  WHERE u.rn <= 256
        |), ag AS (
        |  SELECT source, CAST(count(*) AS INTEGER) AS n_union,
        |   max(h) AS union_kth,
        |   CAST(sum(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |  FROM fl GROUP BY 1
        |), ex AS (
        |  SELECT n.source, CAST(count(*) AS BIGINT) AS exact_novel
        |  FROM newkh n LEFT JOIN oldkh o ON o.source = n.source AND o.h = n.h
        |  WHERE o.h IS NULL GROUP BY 1
        |)
        |SELECT ag.source, ag.n_union, ag.union_kth, ag.n_match,
        | round(CAST(ag.n_match AS DOUBLE) / CAST(ag.n_union AS DOUBLE), 6)
        |   AS jaccard_est,
        | round((CAST(1.0 AS DOUBLE) - CAST(ag.n_match AS DOUBLE) / CAST(ag.n_union AS DOUBLE)) *
        |       (CASE WHEN ag.n_union < 256 THEN CAST(ag.n_union AS DOUBLE)
        |        ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE)
        |             / CAST(ag.union_kth AS DOUBLE) END), 4) AS novelty_est,
        | coalesce(ex.exact_novel, 0) AS exact_novel
        |FROM ag LEFT JOIN ex ON ex.source = ag.source
        |ORDER BY ag.source""".stripMargin,
    // deletion through the sharded sketch artifact: patched ≡ FULL
    // REBUILD on the filtered corpus — literally the same oracle on
    // documents WHERE doc_id % 29 <> 3 (the D18 contract)
    "q_forget_kmv" -> kmvNdvSqlFrom(forgottenDocsSql),
    // KMV set algebra: per-pair union sketch = row_number <= 256 over
    // the UNION of the two sketches' members; n_match counts members
    // present in both; jaccard/union/intersection estimates are the
    // same single IEEE ops as the Spark side; exact columns replay the
    // distinct-hash join
    "q_kmv_overlap" ->
      s"""WITH $kmvHashSql, r AS (
        |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM kh
        |), sk AS (
        |  SELECT source, h FROM r WHERE rn <= 256
        |), s AS (
        |  SELECT DISTINCT source FROM sk
        |), pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM s a JOIN s b ON a.source < b.source
        |), uni AS (
        |  SELECT DISTINCT src_a, src_b, h FROM (
        |    SELECT pr.src_a, pr.src_b, sk.h FROM pr JOIN sk ON sk.source = pr.src_a
        |    UNION ALL
        |    SELECT pr.src_a, pr.src_b, sk.h FROM pr JOIN sk ON sk.source = pr.src_b
        |  )
        |), usk AS (
        |  SELECT src_a, src_b, h,
        |   row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
        |  FROM uni
        |), fl AS (
        |  SELECT u.src_a, u.src_b, u.h,
        |   (a.h IS NOT NULL) AS in_a, (b.h IS NOT NULL) AS in_b
        |  FROM usk u
        |  LEFT JOIN sk a ON a.source = u.src_a AND a.h = u.h
        |  LEFT JOIN sk b ON b.source = u.src_b AND b.h = u.h
        |  WHERE u.rn <= 256
        |), ag AS (
        |  SELECT src_a, src_b, CAST(count(*) AS INTEGER) AS n_union,
        |   max(h) AS union_kth, CAST(sum(h) AS BIGINT) AS union_sum,
        |   CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |  FROM fl GROUP BY 1, 2
        |), nd AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nd FROM kh GROUP BY 1
        |), ex AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |   CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM kh a JOIN kh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT ag.src_a, ag.src_b, ag.n_union, ag.union_kth, ag.union_sum,
        | ag.n_match,
        | round(CAST(ag.n_match AS DOUBLE) / CAST(ag.n_union AS DOUBLE), 6)
        |   AS jaccard_est,
        | round(CASE WHEN ag.n_union < 256 THEN CAST(ag.n_union AS DOUBLE)
        |       ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE)
        |            / CAST(ag.union_kth AS DOUBLE) END, 4) AS union_est,
        | round((CAST(ag.n_match AS DOUBLE) / CAST(ag.n_union AS DOUBLE)) *
        |       (CASE WHEN ag.n_union < 256 THEN CAST(ag.n_union AS DOUBLE)
        |        ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE)
        |             / CAST(ag.union_kth AS DOUBLE) END), 4) AS inter_est,
        | coalesce(ex.exact_inter, 0) AS exact_inter,
        | round(CAST(coalesce(ex.exact_inter, 0) AS DOUBLE) /
        |   CAST(na.nd + nb.nd - coalesce(ex.exact_inter, 0) AS DOUBLE), 6)
        |   AS exact_jaccard
        |FROM ag
        |LEFT JOIN ex ON ex.src_a = ag.src_a AND ex.src_b = ag.src_b
        |JOIN nd na ON na.source = ag.src_a
        |JOIN nd nb ON nb.source = ag.src_b
        |ORDER BY ag.src_a, ag.src_b""".stripMargin,
    // the register rollup replayed at all three levels: per-(type, day,
    // bucket) max registers mirror the artifact granularity, the type
    // and grand-total levels are register-wise max over them, and each
    // level runs the same estimator as q_hll_ndv
    "q_hll_rollup" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type,
        |   CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |   CAST(user_id AS VARCHAR) AS s
        |  FROM events WHERE user_id IS NOT NULL
        |), h AS (
        |  SELECT event_type, day,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS h1,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 131 + b) % 998244353) AS h2
        |  FROM u
        |), r AS (
        |  SELECT event_type, day, h1 % 1024 AS bucket,
        |   CASE WHEN (h2 * 1073741824) // 998244353 = 0 THEN 31
        |        ELSE 31 - length(bin((h2 * 1073741824) // 998244353)) END AS rnk
        |  FROM h
        |), regs AS (
        |  SELECT event_type, day, bucket, max(rnk) AS m FROM r GROUP BY 1, 2, 3
        |), allregs AS (
        |  SELECT event_type, day, bucket, m FROM regs
        |  UNION ALL
        |  SELECT event_type, 'ALL' AS day, bucket, max(m) AS m
        |  FROM regs GROUP BY 1, 3
        |  UNION ALL
        |  SELECT 'ALL' AS event_type, 'ALL' AS day, bucket, max(m) AS m
        |  FROM regs GROUP BY 3
        |), agg AS (
        |  SELECT event_type, day,
        |   CAST(sum(m) AS BIGINT) AS reg_sum,
        |   CAST(sum((bucket + 1) * m) AS BIGINT) AS reg_checksum,
        |   CAST(1024 - count(*) AS BIGINT) AS zero_regs,
        |   sum(power(2.0, -m)) AS z_present
        |  FROM allregs GROUP BY 1, 2
        |), est AS (
        |  SELECT event_type, day, reg_sum, reg_checksum, zero_regs,
        |   (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 1024))
        |     * 1024 * 1024 / (zero_regs + z_present) AS e_raw
        |  FROM agg
        |), x AS (
        |  SELECT event_type, day, CAST(count(DISTINCT s) AS BIGINT) AS exact_ndv
        |  FROM u GROUP BY 1, 2
        |  UNION ALL
        |  SELECT event_type, 'ALL', CAST(count(DISTINCT s) AS BIGINT)
        |  FROM u GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', 'ALL', CAST(count(DISTINCT s) AS BIGINT) FROM u
        |)
        |SELECT e.event_type, e.day, e.reg_sum, e.reg_checksum, e.zero_regs,
        | round(CASE WHEN e.e_raw <= 2560.0 AND e.zero_regs > 0
        |            THEN 1024.0 * ln(1024.0 / e.zero_regs)
        |            ELSE e.e_raw END, 4) AS est_ndv,
        | x.exact_ndv
        |FROM est e JOIN x ON x.event_type = e.event_type AND x.day = e.day
        |ORDER BY e.event_type, e.day""".stripMargin,
    // MG with k=64 over a ≤64-distinct-token stream never sheds, so the
    // summary is exact and the oracle is the exact top-20 (shed = 0);
    // MisraGriesSpec pins the approximate invariants at adversarial k
    "q_frequent_tokens" ->
      """WITH t AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS est FROM t GROUP BY token
        |)
        |SELECT token, CAST(est AS BIGINT) AS est, CAST(0 AS BIGINT) AS shed
        |FROM c ORDER BY est DESC, token LIMIT 20""".stripMargin,
    // the composed curation verdict: quality ∧ ¬repetitive ∧
    // ¬contaminated ∧ canonical — each block mirrors its standalone
    // oracle; the staged form materializes the cluster stage as parquet
    // but MUST produce the identical relation
    "q_corpus_filter" -> corpusFilterSql,
    "q_corpus_filter_staged" -> corpusFilterSql,
    "q_corpus_filter_staged_compose" -> corpusFilterSql,
    "q_publish_verdict" -> corpusFilterSql,
    // two full verdict replays (old corpus = doc_id % 13 <> 5, new =
    // all) nested as subquery CTE chains, diffed by one left join
    "q_verdict_diff" -> verdictDiffSql,
    "q_corpus_filter_mm" -> corpusFilterMmSql,
    "q_corpus_filter_mm_compose" -> corpusFilterMmSql,
    "q_ann_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (
        |  SELECT vec_id, v FROM e WHERE vec_id < 20
        |), p AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |   list_cosine_similarity(e.v, q.v) AS c
        |  FROM e JOIN q ON e.vec_id != q.vec_id
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM p
        |)
        |SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,
    // quantized ANN: the same ranking over int8 code vectors — codes
    // recomputed in SQL with the identical floor-arithmetic rounding
    "q_ann_topk_quant" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), c AS (
        |  SELECT vec_id,
        |   CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |        ELSE list_transform(v, x -> CAST(greatest(-127.0,
        |          least(127.0, floor(x / scale + 0.5))) AS DOUBLE)) END AS qv
        |  FROM s
        |), q AS (
        |  SELECT vec_id, qv FROM c WHERE vec_id < 20
        |), p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_cosine_similarity(c.qv, q.qv) AS cos
        |  FROM c JOIN q ON c.vec_id != q.vec_id
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM p
        |)
        |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,
    "q_lineage" ->
      """SELECT * FROM (VALUES
        |  ('day', 'orders', 'o_orderdate'),
        |  ('status', 'orders', 'o_orderstatus'),
        |  ('gross', 'orders', 'o_totalprice'),
        |  ('customers', 'orders', 'o_custkey')
        |) AS t(out_col, src_table, src_col)""".stripMargin,
    "q_catalog_sql" ->
      """SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus AS status,
        | count(*) AS txns,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_multimodal_features" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |   CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS modality,
        |   16 + n_chars % 64 AS width,
        |   16 + (n_chars * 7) % 64 AS height,
        |   CAST(list_sum(list_transform(string_split(text, ''),
        |     c -> CAST(ascii(c) AS BIGINT))) AS BIGINT) AS byte_sum,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents
        |)
        |SELECT asset_id, modality, byte_len, byte_sum,
        | CAST(byte_sum * 100 // byte_len AS BIGINT) AS mean_byte_x100,
        | width, height
        |FROM a""".stripMargin,
    "q_image_dims" ->
      """SELECT doc_id AS asset_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        | CAST(16 + n_chars % 64 AS BIGINT) AS width,
        | CAST(16 + (n_chars * 7) % 64 AS BIGINT) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0
        |   THEN CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END
        |   ELSE CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END END AS BIGINT) AS channels
        |FROM documents""".stripMargin,
    // the MP4 metadata the box walk must recover, recomputed from the
    // document table; duration contract: timescale 600, duration
    // (1 + id % 240) * 60 units -> exactly (1 + id % 240) * 100 ms.
    // doc_id % 91 = 0 rows are the planted truncation -> quarantined
    "q_video_meta" ->
      """SELECT doc_id AS asset_id, 'mp4' AS fmt,
        | CAST((1 + doc_id % 240) * 100 AS BIGINT) AS duration_ms,
        | CAST(16 + n_chars % 64 AS BIGINT) AS width,
        | CAST(16 + (n_chars * 7) % 64 AS BIGINT) AS height,
        | CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks
        |FROM documents WHERE doc_id % 91 <> 0""".stripMargin,
    // the WAV metadata the chunk walk must recover; duration contract:
    // 8 kHz, 8*(1 + id % 125) samples -> exactly (1 + id % 125) ms.
    // doc_id % 91 = 0 rows are the planted truncation -> quarantined
    "q_audio_meta" ->
      """SELECT doc_id AS asset_id, 'wav' AS fmt,
        | CAST(1 + doc_id % 125 AS BIGINT) AS duration_ms,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT)
        |   AS bits_per_sample,
        | CAST(8 * (1 + doc_id % 125) AS BIGINT) AS n_samples
        |FROM documents WHERE doc_id % 91 <> 0""".stripMargin,
    // the dHash recomputed from the pixel formula (the engine reaches it
    // only through the full PNG codec round-trip); corrupted ids excluded
    "q_image_phash" ->
      s"""WITH $phashHashSql
        |SELECT asset_id, phash_hi, phash_lo FROM phash""".stripMargin,
    "q_image_jpeg_phash" ->
      s"""WITH $jpegHashSql
        |SELECT asset_id, phash_hi, phash_lo FROM jphash""".stripMargin,
    // JPEG near-dup pairs: identical band replay as the PNG pairs,
    // over the JPEG-mosaic-derived hashes
    // JPEG clusters: the banded-Hamming closure replayed over the
    // JPEG-mosaic hashes (the imageClosure recipe, jphash relation)
    "q_image_jpeg_clusters" ->
      s"""WITH RECURSIVE $jpegHashSql,
        |jbands AS (
        |  SELECT asset_id, b.range AS band,
        |    CASE b.range WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
        |                 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS v
        |  FROM jphash, range(4) b
        |),
        |jpairs AS (
        |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
        |  FROM jbands a JOIN jbands c ON a.band = c.band AND a.v = c.v
        |    AND a.asset_id < c.asset_id
        |),
        |jhits AS (
        |  SELECT jp.a_id, jp.b_id
        |  FROM jpairs jp
        |  JOIN jphash ha ON ha.asset_id = jp.a_id
        |  JOIN jphash hb ON hb.asset_id = jp.b_id
        |  WHERE bit_count(xor(ha.phash_hi, hb.phash_hi))
        |      + bit_count(xor(ha.phash_lo, hb.phash_lo)) <= 10
        |),
        |jedges AS (
        |  SELECT a_id AS s, b_id AS dd FROM jhits
        |  UNION ALL SELECT b_id, a_id FROM jhits
        |),
        |jreach(s, dd) AS (
        |  SELECT asset_id, asset_id FROM jphash
        |  UNION
        |  SELECT rr.s, e.dd FROM jreach rr JOIN jedges e ON rr.dd = e.s
        |)
        |SELECT s AS asset_id, min(dd) AS cluster_id FROM jreach GROUP BY s""".stripMargin,
    "q_image_jpeg_pairs" ->
      s"""WITH $jpegHashSql,
        |bands AS (
        |  SELECT asset_id, b.range AS band,
        |    CASE b.range WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
        |                 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS v
        |  FROM jphash, range(4) b
        |),
        |cand AS (
        |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.v = c.v AND a.asset_id < c.asset_id
        |)
        |SELECT cand.a_id, cand.b_id,
        |  CAST(bit_count(xor(ha.phash_hi, hb.phash_hi))
        |     + bit_count(xor(ha.phash_lo, hb.phash_lo)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN jphash ha ON ha.asset_id = cand.a_id
        |JOIN jphash hb ON hb.asset_id = cand.b_id
        |WHERE bit_count(xor(ha.phash_hi, hb.phash_hi))
        |    + bit_count(xor(ha.phash_lo, hb.phash_lo)) <= 10""".stripMargin,
    "q_audio_ahash" ->
      s"""WITH $ahashHashSql
        |SELECT asset_id, ahash_hi, ahash_lo FROM ahash""".stripMargin,
    // audio near-dup pairs: identical band replay as the image pairs,
    // over the formula-derived audio hashes
    "q_audio_ahash_pairs" ->
      s"""WITH $ahashHashSql,
        |bands AS (
        |  SELECT asset_id, b.range AS band,
        |    CASE b.range WHEN 0 THEN ahash_lo % 65536 WHEN 1 THEN ahash_lo // 65536
        |                 WHEN 2 THEN ahash_hi % 65536 ELSE ahash_hi // 65536 END AS v
        |  FROM ahash, range(4) b
        |),
        |cand AS (
        |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.v = c.v AND a.asset_id < c.asset_id
        |)
        |SELECT cand.a_id, cand.b_id,
        |  CAST(bit_count(xor(ha.ahash_hi, hb.ahash_hi))
        |     + bit_count(xor(ha.ahash_lo, hb.ahash_lo)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN ahash ha ON ha.asset_id = cand.a_id
        |JOIN ahash hb ON hb.asset_id = cand.b_id
        |WHERE bit_count(xor(ha.ahash_hi, hb.ahash_hi))
        |    + bit_count(xor(ha.ahash_lo, hb.ahash_lo)) <= 10""".stripMargin,
    "q_video_vhash" ->
      s"""WITH $vhashHashSql
        |SELECT asset_id, vhash_hi, vhash_lo FROM vhash""".stripMargin,
    // video near-dup pairs: identical band replay as the image/audio
    // pairs, over the formula-derived video hashes
    "q_video_vhash_pairs" ->
      s"""WITH $vhashHashSql,
        |bands AS (
        |  SELECT asset_id, b.range AS band,
        |    CASE b.range WHEN 0 THEN vhash_lo % 65536 WHEN 1 THEN vhash_lo // 65536
        |                 WHEN 2 THEN vhash_hi % 65536 ELSE vhash_hi // 65536 END AS v
        |  FROM vhash, range(4) b
        |),
        |cand AS (
        |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.v = c.v AND a.asset_id < c.asset_id
        |)
        |SELECT cand.a_id, cand.b_id,
        |  CAST(bit_count(xor(ha.vhash_hi, hb.vhash_hi))
        |     + bit_count(xor(ha.vhash_lo, hb.vhash_lo)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN vhash ha ON ha.asset_id = cand.a_id
        |JOIN vhash hb ON hb.asset_id = cand.b_id
        |WHERE bit_count(xor(ha.vhash_hi, hb.vhash_hi))
        |    + bit_count(xor(ha.vhash_lo, hb.vhash_lo)) <= 10""".stripMargin,
    // banded candidates + exact Hamming verify, replayed on the oracle
    // hashes with the SAME band rule (the contract is the algorithm,
    // not an all-pairs ideal)
    "q_image_phash_pairs" ->
      s"""WITH $phashHashSql,
        |bands AS (
        |  SELECT asset_id, b.range AS band,
        |    CASE b.range WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
        |                 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS v
        |  FROM phash, range(4) b
        |),
        |cand AS (
        |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.v = c.v AND a.asset_id < c.asset_id
        |)
        |SELECT cand.a_id, cand.b_id,
        |  CAST(bit_count(xor(ha.phash_hi, hb.phash_hi))
        |     + bit_count(xor(ha.phash_lo, hb.phash_lo)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN phash ha ON ha.asset_id = cand.a_id
        |JOIN phash hb ON hb.asset_id = cand.b_id
        |WHERE bit_count(xor(ha.phash_hi, hb.phash_hi))
        |    + bit_count(xor(ha.phash_lo, hb.phash_lo)) <= 10""".stripMargin,
    "q_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |   16 + n_chars % 64 AS width,
        |   16 + (n_chars * 7) % 64 AS height,
        |   1 + doc_id % 24 AS n_frames
        |  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 1
        |)
        |SELECT asset_id, CAST(f AS BIGINT) AS frame_idx,
        | CAST(f * width * height * 3 AS BIGINT) AS byte_offset
        |FROM a, UNNEST(range(0, n_frames, 4)) AS t(f)""".stripMargin,
  )

  /** Gap-sessionization SQL — the oracle for q_sessionize and the
    * interval side of q_range_join.
    */
  /** T10's split key (content rolling-hash mod 100) as DuckDB SQL over
    * a `text` column in scope — shared by q_split_assign and
    * q_split_leakage_safe so the two split rules can't drift.
    */
  /** Full SCD2 rebuild — the shared oracle of q_scd2 AND
    * q_scd2_incremental (the incremental merge's contract IS
    * equivalence to this rebuild).
    */
  private val scd2RebuildSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
      |  FROM events WHERE event_type = 'click'
      |), chg AS (
      |  SELECT user_id, event_id, ts_s, value,
      |   lag(value) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
      |  FROM e
      |), v AS (
      |  SELECT user_id, event_id, ts_s, value FROM chg
      |  WHERE prev IS NULL OR prev <> value
      |)
      |SELECT user_id,
      | row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS version,
      | value, ts_s AS valid_from_s,
      | lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS valid_to_s,
      | CASE WHEN lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) IS NULL
      |   THEN 1 ELSE 0 END AS is_current
      |FROM v""".stripMargin

  private val splitKeySql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(
      |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
      |       ch -> CAST(ascii(ch) AS BIGINT))),
      |     (a, b) -> (a * 31 + b) % 1000000007) % 100""".stripMargin

  /** The gap-filled hourly series — the oracle body for q_gap_fill and
    * the input CTE of q_moving_avg (one definition; a fix to the
    * scaffold applies to both).
    */
  private val gapFillSql: String =
    """WITH c AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM c GROUP BY 1
      |), scaffold AS (
      |  SELECT event_type,
      |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM span
      |)
      |SELECT s.event_type, s.hour, CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |FROM scaffold s LEFT JOIN c
      |  ON c.event_type = s.event_type AND c.hour = s.hour""".stripMargin

  private val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |   CAST(value AS DECIMAL(18,2)) AS val
      |  FROM events
      |), x AS (
      |  SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s FROM e
      |), y AS (
      |  SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new FROM x
      |), z AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM y
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      | min(ts_s) AS start_s, max(ts_s) AS end_s,
      | CAST(SUM(val) AS DOUBLE) AS total_value
      |FROM z GROUP BY 1, 2""".stripMargin

  /** The recursive text near-dup closure — pairs → bidirectional edges →
    * reachability → min-id component labels in CTE `cl` — interpolated
    * (never copied) into every oracle consuming the cluster relation:
    * q_dedup_clusters, q_split_leakage_safe, q_corpus_report,
    * q_cross_source_dups. One definition, so the closure semantics can
    * never silently diverge between sibling oracles.
    */
  private def textClosureSqlFrom(docs: String): String =
    s"""RECURSIVE p AS (${jaccardPairsSqlFrom(docs)}),
      |edges AS (
      |  SELECT a_id AS s, b_id AS d FROM p
      |  UNION ALL SELECT b_id, a_id FROM p
      |),
      |reach(s, d) AS (
      |  SELECT doc_id, doc_id FROM $docs
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
      |),
      |cl AS (
      |  SELECT s AS doc_id, min(d) AS cluster_id FROM reach GROUP BY s
      |)""".stripMargin

  private lazy val textClosureSql: String = textClosureSqlFrom("documents")

  /** The embedding near-dup closure (blocked exact cosine ≥ 0.4 pairs →
    * reachability → min-id labels), parameterized over the vector
    * relation — q_embed_clusters(_staged) on the full table, the forget
    * twin on the filtered one.
    */
  private def embedClosureSqlFrom(embs: String): String =
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embs
      |), p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      |), edges AS (
      |  SELECT a_id AS s, b_id AS d FROM p UNION ALL SELECT b_id, a_id FROM p
      |), reach(s, d) AS (
      |  SELECT vec_id, vec_id FROM $embs
      |  UNION
      |  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
      |)
      |SELECT s AS vec_id, min(d) AS cluster_id FROM reach GROUP BY s""".stripMargin

  /** The concat-tape packing replay — tokenize + rolling-hash order key
    * (CTE `d`), then the global exclusive token cumsum (CTE `c`) —
    * shared by q_pack_sequences and q_export_manifest so the tape
    * semantics can never drift between the packer and the exporter.
    */
  /** The packing tape's tokenize + rolling-hash order key carrying
    * `source` (CTE `d`) — the q_temperature_mixture replay input.
    */
  private lazy val packTapeDocsSql: String =
    """d AS (
      |  SELECT doc_id, source,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws,
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(
      |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
      |       c -> CAST(ascii(c) AS BIGINT))),
      |     (a, b) -> (a * 31 + b) % 1000000007) AS okey
      |  FROM documents
      |)""".stripMargin

  private lazy val packTapeSql: String =
    """d AS (
      |  SELECT doc_id,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws,
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(
      |       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''),
      |       c -> CAST(ascii(c) AS BIGINT))),
      |     (a, b) -> (a * 31 + b) % 1000000007) AS okey
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |   coalesce(CAST(SUM(len(ws)) OVER (ORDER BY okey, doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_offset
      |  FROM d
      |)""".stripMargin

  /** The MMR greedy loop unrolled as CTEs: step i scores every
    * not-yet-selected candidate as λ·rel − (1−λ)·max_{s∈p(i−1)}
    * cos(d, s) and picks the argmax (score desc, doc_id asc — the
    * [[graft.ann.Mmr.rerank]] tiebreak). λ = 0.25 and 1−λ = 0.75 are
    * exactly representable; cosines use the same expression tree as the
    * Scala loop (dot / (sqrt·sqrt) over pinned integers), so every
    * selection compares identical doubles in both engines.
    */
  private lazy val mmrFixtureOracleSql: String = {
    val k = graft.ann.MmrFixture.k
    val steps = (2 to k).map { i =>
      s"""s$i AS (
        |  SELECT c.doc_id, CAST(0.25 AS DOUBLE) * c.rel
        |    - CAST(0.75 AS DOUBLE) * (
        |      SELECT max(list_dot_product(a.emb, b.emb)
        |        / (sqrt(list_dot_product(a.emb, a.emb))
        |           * sqrt(list_dot_product(b.emb, b.emb))))
        |      FROM p${i - 1} JOIN v a ON a.vec_id = c.doc_id
        |      JOIN v b ON b.vec_id = p${i - 1}.doc_id
        |    ) AS score
        |  FROM c WHERE c.doc_id NOT IN (SELECT doc_id FROM p${i - 1})
        |  ORDER BY score DESC, c.doc_id LIMIT 1
        |), p$i AS (
        |  SELECT doc_id FROM p${i - 1} UNION ALL SELECT doc_id FROM s$i
        |)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to k).map(i =>
      s"SELECT $i AS rank, doc_id, score FROM s$i").mkString("\n  UNION ALL ")
    s"""WITH v(vec_id, emb) AS (VALUES
      |  ${graft.ann.PqFixture.corpusValuesSql}
      |), c(doc_id, rel) AS (VALUES
      |  ${graft.ann.MmrFixture.candidatesValuesSql}
      |), s1 AS (
      |  SELECT doc_id, CAST(0.25 AS DOUBLE) * rel AS score FROM c
      |  ORDER BY score DESC, doc_id LIMIT 1
      |), p1 AS (SELECT doc_id FROM s1),
      |$steps
      |SELECT CAST(r.rank AS BIGINT) AS rank, r.doc_id,
      | CAST(c.rel AS DOUBLE) AS relevance, round(r.score, 6) AS mmr_score
      |FROM (
      |  $ranks) r
      |JOIN c ON c.doc_id = r.doc_id
      |ORDER BY r.rank""".stripMargin
  }

  /** The per-document 64-bit dHash recomputed straight from the pixel
    * formula ([[graft.multimodal.Multimodal.blockValue]] — the ONE
    * definition this SQL mirrors), ending in CTE `phash(asset_id,
    * phash_hi, phash_lo)` — interpolated into q_image_phash and
    * q_image_phash_pairs. The engine side reaches the same numbers only
    * through the full PNG encode → CRC verify → inflate → unfilter →
    * block-mean pipeline, so a hash match proves the codec round-trip;
    * the corrupted ids (91: truncated, 97: CRC-flipped) are excluded
    * here exactly as the decoder quarantines them.
    */
  /** Audio fingerprint replay — mirrors [[graft.multimodal.Multimodal
    * .sampleValue]]/[[graft.multimodal.Multimodal.aHash]]: per-frame
    * Σ|sample| energies (all-integer, exact) then the delta-sign bit
    * chain packed hi/lo. Shared by q_audio_ahash and its pairs twin.
    */
  /** Distinct per-source 8-gram shingle rolling hashes (CTE `kh`) —
    * the input relation both KMV oracles replay: tokenization and
    * 8-gram construction mirror the jaccard CTEs, the per-shingle hash
    * is the h1 rolling-hash fold, and the final DISTINCT is on the HASH
    * (colliding shingles occupy one slot, exactly like the Spark
    * aggregator's distinct-value buffer).
    */
  private def kmvHashSqlFrom(docs: String): String =
    s"""d AS (
      |  SELECT doc_id, source,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM $docs
      |), g AS (
      |  SELECT DISTINCT source, g FROM (
      |    SELECT source, unnest(list_distinct(
      |      [array_to_string(toks[i:i+7], ' ') for i in generate_series(1, len(toks) - 7)])) AS g
      |    FROM d WHERE len(toks) >= 8
      |  )
      |), kh AS (
      |  SELECT DISTINCT source,
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
      |     (a, b) -> (a * 31 + b) % 1000000007) AS h
      |  FROM g
      |)""".stripMargin

  private lazy val kmvHashSql: String = kmvHashSqlFrom("documents")

  /** The q_embed_pca replay: fixed-precision covariance (integer
    * micro-unit sums — order-free and exact), then 30 deflated
    * power-iteration steps per component, every mat-vec row /
    * projection / norm a LEFT-TO-RIGHT `list_reduce` fold so the IEEE
    * op sequence is bit-identical to the Scala loop
    * ([[graft.ann.Pca]]). Generated: 3 components × 30 unrolled step
    * CTEs (the MMR unrolled-loop precedent).
    */
  private def pcaFold(terms: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (a, b) -> a + b)"

  private def pcaComp(expr: String): String =
    s"[$expr for k in generate_series(1, 64)]"

  /** Shared generator for the PCA oracles: the fixed-precision
    * covariance CTEs plus `nc` components' unrolled 30-step iteration
    * CTEs (ending in e1..e{nc}); callers append their final SELECT.
    * `cvec` carries vec_id so projection oracles can key per vector.
    */
  private def pcaOracleCtes(nc: Int): String = {
    val D = 64
    def fold(terms: String) = pcaFold(terms)
    def comp(expr: String) = pcaComp(expr)
    // one step CTE for component m at iteration t: mat-vec (a 64-row
    // cross-join aggregate — no correlated subqueries, DuckDB's binder
    // rejects outer references inside list comprehensions), sequential
    // deflation against e1..e{m-1}, normalize
    def stepCte(m: Int, t: Int): String = {
      val innermost =
        s"""SELECT list(${fold(s"[c.crow[k] * p.v[k] for k in generate_series(1, $D)]")}
           | ORDER BY c.i) AS wv
           |      FROM s${m}_${t - 1} p, cmat c""".stripMargin
      // sequential Gram-Schmidt: dv1 = wv - (wv.e1)e1, dv2 = dv1 - ...
      val deflated = (1 until m).foldLeft((innermost, "wv")) {
        case ((from, cur), j) =>
          val proj = fold(s"[w.$cur[q] * ej.ev[q] for q in generate_series(1, $D)]")
          val dv = s"d$j"
          (s"""SELECT ${comp(s"w.$cur[k] - $proj * ej.ev[k]")} AS $dv
             |      FROM ($from) w, e$j ej""".stripMargin, dv)
      }
      val (from, cur) = deflated
      val norm = s"sqrt(${fold(s"[f.$cur[q] * f.$cur[q] for q in generate_series(1, $D)]")})"
      s"""s${m}_$t AS MATERIALIZED (
         |  SELECT ${comp(s"f.$cur[k] / $norm")} AS v
         |  FROM ($from) f
         |)""".stripMargin
    }
    val steps = (for (m <- 1 to nc) yield {
      val s0 = s"s${m}_0 AS MATERIALIZED (SELECT [CAST(0.125 AS DOUBLE) for k in generate_series(1, $D)] AS v)"
      val sts = (1 to graft.ann.Pca.Steps).map(t => stepCte(m, t))
      val e = s"e$m AS MATERIALIZED (SELECT v AS ev FROM s${m}_${graft.ann.Pca.Steps})"
      (Seq(s0) ++ sts ++ Seq(e)).mkString(",\n")
    }).mkString(",\n")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xm
       |  FROM embeddings
       |), nrows AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM emb
       |), dims AS (
       |  SELECT CAST(range AS INTEGER) + 1 AS i FROM range($D)
       |), mu AS (
       |  SELECT d.i, CAST(sum(emb.xm[d.i]) AS DOUBLE) / (n.n * 1000000) AS m
       |  FROM emb, dims d, nrows n GROUP BY d.i, n.n
       |), muv AS MATERIALIZED (
       |  SELECT list(m ORDER BY i) AS mv FROM mu
       |), cvec AS MATERIALIZED (
       |  SELECT emb.vec_id, ${comp(s"CAST(emb.xm[k] AS DOUBLE) / 1000000 - muv.mv[k]")} AS c
       |  FROM emb, muv
       |), cm AS (
       |  SELECT i.i AS i, j.i AS j,
       |   CAST(sum(CAST(floor(cvec.c[i.i] * cvec.c[j.i] * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
       |  FROM cvec, dims i, dims j GROUP BY 1, 2
       |), cmat AS MATERIALIZED (
       |  SELECT cm.i, list(CAST(cm.s AS DOUBLE) / CAST(n.n AS DOUBLE) / 1000000 ORDER BY cm.j) AS crow
       |  FROM cm, nrows n GROUP BY cm.i
       |), tr AS (
       |  SELECT ${fold(s"(SELECT list(crow[i] ORDER BY i) FROM cmat)")} AS trace
       |),
       |$steps""".stripMargin
  }

  private lazy val embedPcaSql: String = {
    val cvCtes = (1 to 3).map { m =>
      s"""cv$m AS MATERIALIZED (
         |  SELECT list(${pcaFold(s"[c.crow[k] * em.ev[k] for k in generate_series(1, 64)]")}
         |   ORDER BY c.i) AS cv
         |  FROM cmat c, e$m em
         |)""".stripMargin
    }.mkString(",\n")
    val lambdas = (1 to 3).map { m =>
      s"""SELECT $m AS component,
         | ${pcaFold(s"[em.ev[i] * l.cv[i] for i in generate_series(1, 64)]")} AS lambda_raw,
         | ${pcaFold(s"[abs(em.ev[k]) for k in generate_series(1, 64)]")} AS vchk_raw
         |FROM e$m em, cv$m l""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${pcaOracleCtes(3)},
       |$cvCtes,
       |lam AS (
       |$lambdas
       |)
       |SELECT component, round(lambda_raw, 4) AS lambda,
       | round(lambda_raw / tr.trace, 6) AS var_explained,
       | round(vchk_raw, 6) AS vchk
       |FROM lam, tr ORDER BY component""".stripMargin
  }

  /** The q_embed_project replay: the shared PCA CTEs at 4 components,
    * then per-vector ordered-fold projections onto e1..e4.
    */
  private lazy val embedProjectSql: String = {
    val ys = (1 to 4).map { m =>
      s"${pcaFold(s"[v.c[k] * e$m.ev[k] for k in generate_series(1, 64)]")} AS y$m"
    }.mkString(",\n ")
    s"""${pcaOracleCtes(4)},
       |proj AS (
       |  SELECT v.vec_id,
       | $ys
       |  FROM cvec v, e1, e2, e3, e4
       |)
       |SELECT vec_id, round(y1, 6) AS pc1, round(y2, 6) AS pc2,
       | round(y3, 6) AS pc3, round(y4, 6) AS pc4
       |FROM proj ORDER BY vec_id""".stripMargin
  }

  /** The KMV per-source NDV replay parameterized over the document
    * relation — q_kmv_ndv(_compose) run it on `documents`, q_forget_kmv
    * on the forgotten corpus (incremental ≡ full rebuild).
    */
  private def kmvNdvSqlFrom(docs: String): String =
    s"""WITH ${kmvHashSqlFrom(docs)}, r AS (
      |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM kh
      |), sk AS (
      |  SELECT source, CAST(count(*) AS INTEGER) AS n_sketch,
      |   max(CASE WHEN rn = 256 THEN h END) AS kth_min,
      |   CAST(sum(h) AS BIGINT) AS sketch_sum
      |  FROM r WHERE rn <= 256 GROUP BY 1
      |), x AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS exact_ndv FROM kh GROUP BY 1
      |)
      |SELECT sk.source, sk.n_sketch, sk.kth_min, sk.sketch_sum,
      | round(CASE WHEN sk.n_sketch < 256 THEN CAST(sk.n_sketch AS DOUBLE)
      |       ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE)
      |            / CAST(sk.kth_min AS DOUBLE) END, 4) AS est_ndv,
      | x.exact_ndv
      |FROM sk JOIN x USING (source) ORDER BY source""".stripMargin

  private lazy val ahashHashSql: String =
    """adocs AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 89 <> 0
      |),
      |aen AS (
      |  SELECT d.doc_id, f.range AS f, sum(abs(
      |    (((((d.doc_id // 4) * 97 + f.range * 32 + s.range) % 509)
      |      * (((d.doc_id // 4) * 97 + f.range * 32 + s.range) % 509)
      |      * (((d.doc_id // 4) * 97 + f.range * 32 + s.range) % 509)) % 509
      |     + CASE WHEN (f.range * 32 + s.range + d.doc_id) % 37 = 0
      |            THEN (d.doc_id % 4) * 16 ELSE 0 END) % 1024 - 512)) AS e
      |  FROM adocs d, range(65) f, range(32) s
      |  GROUP BY 1, 2
      |),
      |abit AS (
      |  SELECT e1.doc_id, CAST(e1.f AS BIGINT) AS pos,
      |    CASE WHEN e2.e > e1.e THEN 1 ELSE 0 END AS bit
      |  FROM aen e1 JOIN aen e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
      |  WHERE e1.f < 64
      |),
      |ahash AS (
      |  SELECT doc_id AS asset_id,
      |    CAST(SUM(CASE WHEN pos >= 32
      |      THEN bit * (1::BIGINT << CAST(pos - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN pos < 32
      |      THEN bit * (1::BIGINT << CAST(pos AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM abit GROUP BY doc_id
      |)""".stripMargin

  /** Video fingerprint replay — mirrors [[graft.multimodal.Multimodal
    * .framePixel]]/[[graft.multimodal.Multimodal.vHash]]: per-frame
    * Σ-luma energies (all-integer, exact) then the delta-sign bit chain
    * packed hi/lo. Shared by q_video_vhash and its pairs twin, and by
    * the mm-verdict video closure.
    */
  private lazy val vhashHashSql: String =
    """vdocs AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 83 <> 0
      |),
      |ven AS (
      |  SELECT d.doc_id, f.range AS f, sum(
      |    (((((d.doc_id // 4) * 103 + f.range * 32 + s.range) % 509)
      |      * (((d.doc_id // 4) * 103 + f.range * 32 + s.range) % 509)
      |      * (((d.doc_id // 4) * 103 + f.range * 32 + s.range) % 509)) % 509
      |     + CASE WHEN (f.range * 32 + s.range + d.doc_id) % 43 = 0
      |            THEN (d.doc_id % 4) * 8 ELSE 0 END) % 256) AS e
      |  FROM vdocs d, range(65) f, range(32) s
      |  GROUP BY 1, 2
      |),
      |vbit AS (
      |  SELECT e1.doc_id, CAST(e1.f AS BIGINT) AS pos,
      |    CASE WHEN e2.e > e1.e THEN 1 ELSE 0 END AS bit
      |  FROM ven e1 JOIN ven e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
      |  WHERE e1.f < 64
      |),
      |vhash AS (
      |  SELECT doc_id AS asset_id,
      |    CAST(SUM(CASE WHEN pos >= 32
      |      THEN bit * (1::BIGINT << CAST(pos - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS vhash_hi,
      |    CAST(SUM(CASE WHEN pos < 32
      |      THEN bit * (1::BIGINT << CAST(pos AS INTEGER)) ELSE 0 END) AS BIGINT) AS vhash_lo
      |  FROM vbit GROUP BY doc_id
      |)""".stripMargin

  private lazy val phashHashSql: String = phashHashSqlFrom("documents")

  /** The JPEG fingerprint CTEs: the [[phashHashSqlFrom]] mosaic formula
    * with the CORPUS MODE fold — per (doc_id / 4) group, mode = group
    * % 3 is grayscale (cell luma = the mosaic value p) or one of the
    * two color layouts (4:2:0 / 4:4:4), which share one formula: the
    * per-quad chroma (Multimodal.chromaCb/chromaCr at (bx/2, by/2))
    * runs through the decoder's integer YCbCr→RGB (floor fixed-point,
    * replayed exactly via bias-then-divide so `//`'s rounding mode
    * can't matter) and the 77/150/29 luma recipe. Only the truncation
    * plant is excluded (no CRC plant — a JPEG entropy stream carries
    * none, see Multimodal.jpegImageAssets). The 72×64 assets put one
    * 8×8 block per dHash cell, so the cell mean IS the folded value.
    */
  private lazy val jpegHashSql: String =
    s"""docs AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 91 <> 0
      |),
      |grid AS (
      |  SELECT d.doc_id, bx.range AS bx, by.range AS by,
      |    ((((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509)
      |      * (((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509)
      |      * (((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509) % 509
      |     + CASE WHEN (bx.range + by.range * 9 + d.doc_id) % 23 = 0
      |            THEN (d.doc_id % 4) * 8 ELSE 0 END) % 256 AS p
      |  FROM docs d, range(9) bx, range(8) by
      |),
      |jchroma AS (
      |  SELECT doc_id, bx, by, p,
      |    ((doc_id // 4) * 113 + (bx // 2) * 7 + (by // 2) * 31) % 256 - 128 AS cbd,
      |    ((doc_id // 4) * 127 + (bx // 2) * 11 + (by // 2) * 17) % 256 - 128 AS crd
      |  FROM grid
      |),
      |jrgb AS (
      |  SELECT doc_id, bx, by, p,
      |    LEAST(255, GREATEST(0, p + ((91881 * crd + 16777216) // 65536) - 256)) AS r,
      |    LEAST(255, GREATEST(0, p - ((22554 * cbd + 46802 * crd + 16777216) // 65536) + 256)) AS g,
      |    LEAST(255, GREATEST(0, p + ((116130 * cbd + 16777216) // 65536) - 256)) AS b
      |  FROM jchroma
      |),
      |jlum AS (
      |  SELECT doc_id, bx, by,
      |    CASE WHEN (doc_id // 4) % 3 = 0 THEN p
      |         ELSE (77 * r + 150 * g + 29 * b) // 256 END AS p
      |  FROM jrgb
      |),
      |bits AS (
      |  SELECT g1.doc_id, CAST(g1.by * 8 + g1.bx AS BIGINT) AS pos,
      |    CASE WHEN g2.p > g1.p THEN 1 ELSE 0 END AS bit
      |  FROM jlum g1 JOIN jlum g2
      |    ON g2.doc_id = g1.doc_id AND g2.by = g1.by AND g2.bx = g1.bx + 1
      |  WHERE g1.bx < 8
      |),
      |jphash AS (
      |  SELECT doc_id AS asset_id,
      |    CAST(SUM(CASE WHEN pos >= 32
      |      THEN bit * (1::BIGINT << CAST(pos - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_hi,
      |    CAST(SUM(CASE WHEN pos < 32
      |      THEN bit * (1::BIGINT << CAST(pos AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_lo
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  /** One banded-family block of the q_dedup_pruning_report oracle: a
    * nested-WITH subquery (each family's hash CTEs reuse names like
    * `docs`/`grid`/`bits`, so they must not share one WITH scope)
    * computing items / band candidates / verified / exact counts over
    * the family's formula-replayed 64-bit fingerprints — the SAME band
    * and Hamming rules as the family's own pair oracle, and the SAME
    * deterministic item-sample rule the engine's exact baseline uses
    * (`(id·1000003 + 12345) % ceil(n/2048) = 0`; divisor 1 — no
    * sampling — at every oracled SF, so the replay is exact there).
    */
  private def bandedPruningSqlFrom(family: String, ctes: String,
      rel: String, hi: String, lo: String): String =
    s"""SELECT * FROM (
      |WITH $ctes,
      |hrel AS (SELECT asset_id, $hi AS hi, $lo AS lo FROM $rel),
      |prm AS (
      |  SELECT GREATEST(1, CAST(ceil(count(*) / 2048.0) AS BIGINT)) AS d
      |  FROM hrel
      |),
      |smp AS (
      |  SELECT hrel.* FROM hrel, prm
      |  WHERE (asset_id * 1000003 + 12345) % prm.d = 0
      |),
      |bnd AS (
      |  SELECT asset_id, b.range AS band,
      |    CASE b.range WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
      |                 WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS v
      |  FROM hrel, range(4) b
      |),
      |cnd AS (
      |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
      |  FROM bnd a JOIN bnd c ON a.band = c.band AND a.v = c.v
      |    AND a.asset_id < c.asset_id
      |),
      |ver AS (
      |  SELECT cnd.a_id, cnd.b_id FROM cnd
      |  JOIN hrel x ON x.asset_id = cnd.a_id
      |  JOIN hrel y ON y.asset_id = cnd.b_id
      |  WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 10
      |),
      |vsm AS (
      |  SELECT 1 AS one FROM ver
      |  JOIN smp x ON x.asset_id = ver.a_id
      |  JOIN smp y ON y.asset_id = ver.b_id
      |),
      |ex AS (
      |  SELECT 1 AS one FROM smp x JOIN smp y ON x.asset_id < y.asset_id
      |  WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 10
      |)
      |SELECT '$family' AS family,
      |  (SELECT count(*) FROM hrel) AS n_items,
      |  (SELECT count(*) FROM cnd) AS n_cand,
      |  (SELECT count(*) FROM ver) AS n_pairs,
      |  (SELECT count(*) FROM ex) AS n_exact,
      |  (SELECT count(*) FROM vsm) AS n_pairs_exact_scope,
      |  (SELECT count(*) FROM smp) AS exact_items
      |)""".stripMargin

  /** [[phashHashSql]] parameterized over the document relation — the
    * image-forget oracle replays the same fingerprint formula on the
    * filtered corpus.
    */
  private def phashHashSqlFrom(docsRel: String): String =
    s"""docs AS (
      |  SELECT doc_id FROM $docsRel WHERE doc_id % 91 <> 0 AND doc_id % 97 <> 0
      |),
      |grid AS (
      |  SELECT d.doc_id, bx.range AS bx, by.range AS by,
      |    ((((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509)
      |      * (((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509)
      |      * (((d.doc_id // 4) * 72 + by.range * 9 + bx.range) % 509) % 509
      |     + CASE WHEN (bx.range + by.range * 9 + d.doc_id) % 23 = 0
      |            THEN (d.doc_id % 4) * 8 ELSE 0 END) % 256 AS p
      |  FROM docs d, range(9) bx, range(8) by
      |),
      |lum AS (
      |  SELECT doc_id, bx, by,
      |    CASE WHEN (doc_id // 4) % 5 IN (1, 2, 4)
      |         THEN (77 * p + 150 * ((p + 31) % 256)
      |               + 29 * ((p + 97) % 256)) // 256
      |         ELSE p END AS p
      |  FROM grid
      |),
      |bits AS (
      |  SELECT g1.doc_id, CAST(g1.by * 8 + g1.bx AS BIGINT) AS pos,
      |    CASE WHEN g2.p > g1.p THEN 1 ELSE 0 END AS bit
      |  FROM lum g1 JOIN lum g2
      |    ON g2.doc_id = g1.doc_id AND g2.by = g1.by AND g2.bx = g1.bx + 1
      |  WHERE g1.bx < 8
      |),
      |phash AS (
      |  SELECT doc_id AS asset_id,
      |    CAST(SUM(CASE WHEN pos >= 32
      |      THEN bit * (1::BIGINT << CAST(pos - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_hi,
      |    CAST(SUM(CASE WHEN pos < 32
      |      THEN bit * (1::BIGINT << CAST(pos AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_lo
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  /** Exact 3-gram Jaccard pairs — the oracle for BOTH q_jaccard_pairs and
    * q_minhash_lsh (LSH + exact verification reproduces the exact result).
    * Parameterized over the document relation so the forget oracles can
    * replay the same pair semantics on the FILTERED corpus (`docs` must
    * be a table name or a parenthesized subquery).
    */
  private def jaccardPairsSqlFrom(docs: String): String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
      |  FROM $docs
      |), g AS (
      |  SELECT doc_id, list_distinct(
      |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |     for i in generate_series(1, len(ws) - 2)]) AS gs
      |  FROM d WHERE len(ws) >= 3
      |), p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |   len(list_intersect(a.gs, b.gs)) AS inter,
      |   len(a.gs) AS na, len(b.gs) AS nb
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |)
      |SELECT a_id, b_id,
      | round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.8""".stripMargin

  private val jaccardPairsSql: String = jaccardPairsSqlFrom("documents")

  /** The forgotten-corpus relation (documents minus the deterministic
    * deletion batch) every q_forget_* oracle rebuilds from — interpolated
    * into the shared CTE builders so forget semantics are literally
    * "the same oracle on the filtered corpus".
    */
  private val forgottenDocsSql: String =
    "(SELECT * FROM documents WHERE doc_id % 29 <> 3)"

  /** The composed curation-verdict SQL — the ONE oracle both the
    * inline (q_corpus_filter) and stage-artifact
    * (q_corpus_filter_staged) forms must reproduce.
    */
  /** The corpus-filter CTE chain (through `canon`) shared by the
    * text-only verdict oracle, the multimodal twin (which appends
    * image-cluster CTEs before the final conjunction), and — via the
    * document-relation parameter — the forget-verdict oracle, which
    * rebuilds the identical chain on the filtered corpus.
    */
  private def corpusFilterCtesFrom(docs: String): String =
    s"""WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM $docs
      |), q AS (
      |  SELECT doc_id, (CAST(
      |    CAST(0.4 AS DECIMAL(2,1)) * CAST(round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(round(CAST(len(list_filter(toks, t -> list_contains(
      |        ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS DECIMAL(9,6)))
      |   AS DOUBLE) >= 0.5 AND len(toks) >= 10) AS quality_ok
      |  FROM d
      |), r AS (
      |  SELECT doc_id, NOT ((CASE WHEN len(toks) - 1 > 0
      |    THEN round(1.0 - CAST(len(list_distinct([array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks) - 1)])) AS DOUBLE)
      |      / CAST(len(toks) - 1 AS DOUBLE), 6)
      |    ELSE 0.0 END) > 0.2) AS not_repetitive
      |  FROM d
      |), g8 AS (
      |  SELECT doc_id, list_distinct(
      |    [array_to_string(toks[i:i+7], ' ') for i in generate_series(1, len(toks) - 7)]) AS gs
      |  FROM d WHERE len(toks) >= 8
      |), bench AS (
      |  SELECT list_distinct(flatten(list(gs))) AS bgs FROM g8 WHERE doc_id % 10 = 0
      |), corpus AS (
      |  SELECT d.doc_id, coalesce(g8.gs, []) AS gs
      |  FROM d LEFT JOIN g8 USING (doc_id)
      |  WHERE d.doc_id % 10 != 0
      |), dc AS (
      |  SELECT c.doc_id, len(list_intersect(c.gs, coalesce(b.bgs, []))) = 0 AS not_contaminated
      |  FROM corpus c, bench b
      |), g3 AS (
      |  SELECT doc_id, list_distinct(
      |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |     for i in generate_series(1, len(toks) - 2)]) AS gs
      |  FROM d WHERE len(toks) >= 3
      |), p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM g3 a JOIN g3 b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      |    / CAST(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS DOUBLE) >= 0.8
      |), edges AS (
      |  SELECT a_id AS s, b_id AS dd FROM p UNION ALL SELECT b_id, a_id FROM p
      |), reach(s, dd) AS (
      |  SELECT doc_id, doc_id FROM $docs
      |  UNION
      |  SELECT rr.s, e.dd FROM reach rr JOIN edges e ON rr.dd = e.s
      |), canon AS (
      |  SELECT s AS doc_id, min(dd) = s AS canonical FROM reach GROUP BY s
      |)""".stripMargin

  private lazy val corpusFilterCtes: String = corpusFilterCtesFrom("documents")

  private def corpusFilterSqlFrom(docs: String): String =
    s"""${corpusFilterCtesFrom(docs)}
      |SELECT dc.doc_id, q.quality_ok, r.not_repetitive, dc.not_contaminated, canon.canonical,
      | (q.quality_ok AND r.not_repetitive AND dc.not_contaminated AND canon.canonical) AS keep
      |FROM dc JOIN q USING (doc_id) JOIN r USING (doc_id) JOIN canon USING (doc_id)""".stripMargin

  private lazy val corpusFilterSql: String = corpusFilterSqlFrom("documents")

  /** The q_verdict_diff replay: the full verdict chain runs TWICE —
    * once per corpus version, each nested as a subquery so the CTE
    * names cannot collide — and one doc_id-keyed left join classifies
    * the transition. Old corpus = documents minus the % 13 == 5
    * arrival batch.
    */
  private lazy val verdictDiffSql: String =
    s"""WITH newv AS (
      |  SELECT * FROM (${corpusFilterSqlFrom("documents")})
      |), oldv AS (
      |  SELECT * FROM (${corpusFilterSqlFrom(
        "(SELECT * FROM documents WHERE doc_id % 13 <> 5)")})
      |), d AS (
      |  SELECT n.doc_id,
      |   CASE WHEN o.doc_id IS NULL THEN 'added'
      |        WHEN o.keep <> n.keep THEN 'keep_flipped'
      |        WHEN o.canonical <> n.canonical THEN 'canonical_moved'
      |        ELSE 'unchanged' END AS status,
      |   coalesce(CAST(o.keep AS VARCHAR), 'absent') AS keep_old,
      |   CAST(n.keep AS VARCHAR) AS keep_new,
      |   coalesce(CAST(o.canonical AS VARCHAR), 'absent') AS canonical_old,
      |   CAST(n.canonical AS VARCHAR) AS canonical_new
      |  FROM newv n LEFT JOIN oldv o USING (doc_id)
      |)
      |SELECT * FROM d WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin

  /** The MULTIMODAL curation verdict oracle: the text CTEs plus the
    * image near-dup closure (pHash bands → Hamming ≤ 10 pairs →
    * connected components → min-id canonical). `image_ok` is false for
    * undecodable (quarantined) assets — they have no row in `phash` —
    * and for non-canonical members of an image cluster.
    */
  /** The per-document quality/keep CTE chain (`toks`/`sig`/`q`) shared
    * by the corpus-report oracles (text-only and multimodal).
    */
  private lazy val reportQualityCtes: String =
    """toks AS (
      |  SELECT doc_id, source,
      |   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents
      |), sig AS (
      |  SELECT doc_id, source,
      |   CAST(len(toks) AS BIGINT) AS n_tokens,
      |   round(CAST(len(list_filter(toks, t -> list_contains(
      |     ['the','a','an','and','of','to','in','is','it','for'], t))) AS DOUBLE)
      |     / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
      |   round(CAST(len(list_distinct(toks)) AS DOUBLE)
      |     / CAST(len(toks) AS DOUBLE), 6) AS diversity,
      |   round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 6) AS length_signal
      |  FROM toks
      |), q AS (
      |  SELECT doc_id, source, n_tokens,
      |   CAST(0.4 AS DECIMAL(2,1)) * CAST(length_signal AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(diversity AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(stop_ratio AS DECIMAL(9,6)))
      |     AS qd,
      |   (CAST(CAST(0.4 AS DECIMAL(2,1)) * CAST(length_signal AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * CAST(diversity AS DECIMAL(9,6))
      |    + CAST(0.3 AS DECIMAL(2,1)) * (CAST(1.0 AS DECIMAL(2,1)) - CAST(stop_ratio AS DECIMAL(9,6)))
      |     AS DOUBLE) >= 0.5 AND n_tokens >= 10) AS keep
      |  FROM sig
      |)""".stripMargin

  /** The image-cluster closure CTE block (pHash → bands → Hamming ≤ 10
    * pairs → connected components → min-id canonical flag `icanon`),
    * shared by the multimodal verdict and the multimodal report oracles.
    */
  private lazy val imageClosureCtes: String = imageClosureCtesFrom("documents")

  private def imageClosureCtesFrom(docsRel: String): String =
    s"""${phashHashSqlFrom(docsRel)},
      |ibands AS (
      |  SELECT asset_id, b.range AS band,
      |    CASE b.range WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
      |                 WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS v
      |  FROM phash, range(4) b
      |),
      |ipairs AS (
      |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
      |  FROM ibands a JOIN ibands c ON a.band = c.band AND a.v = c.v
      |    AND a.asset_id < c.asset_id
      |),
      |ihits AS (
      |  SELECT ip.a_id, ip.b_id
      |  FROM ipairs ip
      |  JOIN phash ha ON ha.asset_id = ip.a_id
      |  JOIN phash hb ON hb.asset_id = ip.b_id
      |  WHERE bit_count(xor(ha.phash_hi, hb.phash_hi))
      |      + bit_count(xor(ha.phash_lo, hb.phash_lo)) <= 10
      |),
      |iedges AS (
      |  SELECT a_id AS s, b_id AS dd FROM ihits
      |  UNION ALL SELECT b_id, a_id FROM ihits
      |),
      |ireach(s, dd) AS (
      |  SELECT asset_id, asset_id FROM phash
      |  UNION
      |  SELECT rr.s, e.dd FROM ireach rr JOIN iedges e ON rr.dd = e.s
      |),
      |icanon AS (
      |  SELECT s AS doc_id, min(dd) = s AS img_canonical FROM ireach GROUP BY s
      |)""".stripMargin

  /** The audio-cluster closure (aHash → bands → Hamming ≤ 10 pairs →
    * connected components → `aucanon`) — the audio twin of
    * [[imageClosureCtes]], over the formula-replayed fingerprints.
    */
  private lazy val audioClosureCtes: String =
    s"""$ahashHashSql,
      |aubands AS (
      |  SELECT asset_id, b.range AS band,
      |    CASE b.range WHEN 0 THEN ahash_lo % 65536 WHEN 1 THEN ahash_lo // 65536
      |                 WHEN 2 THEN ahash_hi % 65536 ELSE ahash_hi // 65536 END AS v
      |  FROM ahash, range(4) b
      |),
      |aupairs AS (
      |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
      |  FROM aubands a JOIN aubands c ON a.band = c.band AND a.v = c.v
      |    AND a.asset_id < c.asset_id
      |),
      |auhits AS (
      |  SELECT ap.a_id, ap.b_id
      |  FROM aupairs ap
      |  JOIN ahash ha ON ha.asset_id = ap.a_id
      |  JOIN ahash hb ON hb.asset_id = ap.b_id
      |  WHERE bit_count(xor(ha.ahash_hi, hb.ahash_hi))
      |      + bit_count(xor(ha.ahash_lo, hb.ahash_lo)) <= 10
      |),
      |auedges AS (
      |  SELECT a_id AS s, b_id AS dd FROM auhits
      |  UNION ALL SELECT b_id, a_id FROM auhits
      |),
      |aureach(s, dd) AS (
      |  SELECT asset_id, asset_id FROM ahash
      |  UNION
      |  SELECT rr.s, e.dd FROM aureach rr JOIN auedges e ON rr.dd = e.s
      |),
      |aucanon AS (
      |  SELECT s AS doc_id, min(dd) = s AS au_canonical FROM aureach GROUP BY s
      |)""".stripMargin

  /** The video-cluster closure (vHash → bands → Hamming ≤ 10 pairs →
    * connected components → `vcanon`) — the video member of the
    * modality-closure family, over the formula-replayed fingerprints.
    */
  private lazy val videoClosureCtes: String =
    s"""$vhashHashSql,
      |vbands AS (
      |  SELECT asset_id, b.range AS band,
      |    CASE b.range WHEN 0 THEN vhash_lo % 65536 WHEN 1 THEN vhash_lo // 65536
      |                 WHEN 2 THEN vhash_hi % 65536 ELSE vhash_hi // 65536 END AS v
      |  FROM vhash, range(4) b
      |),
      |vpairs AS (
      |  SELECT DISTINCT a.asset_id AS a_id, c.asset_id AS b_id
      |  FROM vbands a JOIN vbands c ON a.band = c.band AND a.v = c.v
      |    AND a.asset_id < c.asset_id
      |),
      |vhits AS (
      |  SELECT vp.a_id, vp.b_id
      |  FROM vpairs vp
      |  JOIN vhash ha ON ha.asset_id = vp.a_id
      |  JOIN vhash hb ON hb.asset_id = vp.b_id
      |  WHERE bit_count(xor(ha.vhash_hi, hb.vhash_hi))
      |      + bit_count(xor(ha.vhash_lo, hb.vhash_lo)) <= 10
      |),
      |vedges AS (
      |  SELECT a_id AS s, b_id AS dd FROM vhits
      |  UNION ALL SELECT b_id, a_id FROM vhits
      |),
      |vreach(s, dd) AS (
      |  SELECT asset_id, asset_id FROM vhash
      |  UNION
      |  SELECT rr.s, e.dd FROM vreach rr JOIN vedges e ON rr.dd = e.s
      |),
      |vcanon AS (
      |  SELECT s AS doc_id, min(dd) = s AS vid_canonical FROM vreach GROUP BY s
      |)""".stripMargin

  private lazy val corpusFilterMmSql: String =
    s"""$corpusFilterCtes,
      |$imageClosureCtes,
      |$audioClosureCtes,
      |$videoClosureCtes
      |SELECT dc.doc_id, q.quality_ok, r.not_repetitive, dc.not_contaminated, canon.canonical,
      | coalesce(icanon.img_canonical, FALSE) AS image_ok,
      | coalesce(aucanon.au_canonical, FALSE) AS audio_ok,
      | coalesce(vcanon.vid_canonical, FALSE) AS video_ok,
      | (q.quality_ok AND r.not_repetitive AND dc.not_contaminated AND canon.canonical
      |  AND coalesce(icanon.img_canonical, FALSE)
      |  AND coalesce(aucanon.au_canonical, FALSE)
      |  AND coalesce(vcanon.vid_canonical, FALSE)) AS keep
      |FROM dc JOIN q USING (doc_id) JOIN r USING (doc_id) JOIN canon USING (doc_id)
      |LEFT JOIN icanon USING (doc_id)
      |LEFT JOIN aucanon USING (doc_id)
      |LEFT JOIN vcanon USING (doc_id)""".stripMargin
}
