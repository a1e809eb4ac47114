package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Wire shape for the custom stateful operators. */
final case class UserEvent(event_id: Long, user_id: Long,
    ts: java.sql.Timestamp, value: Double)

/** A closed session emitted by [[Streaming.statefulSessions]]. */
final case class UserSession(user_id: Long, start_s: Long, end_s: Long,
    n_events: Long, total_value: Double)

private[streaming] final case class SessionAcc(start: Long, last: Long,
    n: Long, total: Double)

/** Structured Streaming twins of the batch operators (SURVEY.md §2.10:
  * the reference is batch-pull "near-real-time"; these are the Spark
  * extensions its event_time column implies). Each transform takes a
  * (possibly streaming) DataFrame and returns a plan that works
  * identically under `read` and `readStream` — the unified-API property
  * the specs exercise with MemoryStream.
  *
  * Watermarks bound state: at 100 TB/day the 30-minute watermark is what
  * keeps the window/session state store finite; late rows past it are
  * dropped instead of accumulating unbounded state. The `race_partial`
  * scenario of the reference (consumer reads before producer writes) is
  * exactly the late-data problem the watermark solves.
  */
object Streaming {

  /** Tumbling 5-minute windowed aggregation per event_type — the
    * streaming twin of EventsQ.tumblingWindow. Emits append-mode results
    * once the watermark passes the window end.
    */
  def windowedMart(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hopping (sliding) windowed aggregation — each event lands in
    * size/slide overlapping windows (the streaming twin of the batch
    * q_hopping_window: 10-minute windows every 5 minutes → 2 windows
    * per event). Same bounded-state contract as [[windowedMart]]: the
    * watermark finalizes and retires windows.
    */
  def slidingMart(events: DataFrame,
      size: String = "10 minutes", slide: String = "5 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based session windows (30-minute inactivity gap) per user —
    * the streaming twin of EventsQ.sessionize, via the native
    * session_window operator (state merges adjacent windows within the
    * gap; the watermark finalizes and emits closed sessions).
    */
  def sessionize(events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** [[sessionize]] made BIT-COMPARABLE to the batch gap rule: the batch
    * sessionizer (EventsQ.sessionize) compares FLOOR-SECOND epochs and
    * keeps two events in one session iff `ts_s - prev_s <= 1800`.
    * Spark's session windows merge END-INCLUSIVELY — a session starting
    * exactly at the previous session's end still merges (verified
    * empirically: a floor-second diff of exactly `gap` merges) — so on
    * SECOND-FLOORED event times `session_window(ts_sec, 1800s)` merges
    * iff floor(next) ≤ floor(prev) + 1800, exactly the batch rule.
    * Flooring matters: on raw microsecond timestamps the sub-second
    * parts would shift which pairs sit at the boundary. The session
    * start is the floored first-event second and the window end the
    * floored last-event second + gap — both losslessly invertible to
    * the batch twin's (start_s, end_s), which is what lets a streamed
    * native-session-window run share the batch DuckDB oracle verbatim
    * (q_stream_sessions).
    */
  def sessionizeSeconds(events: DataFrame,
      gapSeconds: Int = 1800,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts_sec", date_trunc("second", col("ts")))
      .withWatermark("ts_sec", watermark)
      .groupBy(session_window(col("ts_sec"), s"$gapSeconds seconds"),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * escape hatch for state machines session_window can't express
    * (here: sessions also emit on event-time TIMEOUT, so an abandoned
    * session closes when the watermark passes its gap even if the user
    * never returns). One state entry per active user, retired on
    * timeout — bounded by active users, not history.
    */
  def statefulSessions(events: Dataset[UserEvent],
      gapSeconds: Long = 1800,
      watermark: String = "30 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[UserEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(user, s.start, s.last, s.n, s.total))
          } else {
            // fold the batch in event-time order, closing a session at
            // every gap — including gaps BETWEEN events of this batch,
            // which a batch-min/max merge would silently swallow
            val closed = Seq.newBuilder[UserSession]
            var acc = state.getOption
            for (e <- evs.toSeq.sortBy(_.ts.getTime)) {
              val s = e.ts.getTime / 1000
              acc match {
                case Some(a) if s > a.last + gapSeconds =>
                  closed += UserSession(user, a.start, a.last, a.n, a.total)
                  acc = Some(SessionAcc(s, s, 1L, e.value))
                case Some(a) =>
                  acc = Some(SessionAcc(a.start, math.max(a.last, s),
                    a.n + 1, a.total + e.value))
                case None =>
                  acc = Some(SessionAcc(s, s, 1L, e.value))
              }
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp((a.last + gapSeconds) * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream–stream interval join: enrich a click/event stream with the
    * orders/transactions stream that happened within `horizon` BEFORE
    * the event, keyed by user. Both sides are watermarked and the join
    * condition bounds event-time distance, so state for either side is
    * retired once the watermark passes the interval — the canonical
    * bounded-state stream-stream join shape.
    */
  def intervalJoin(events: DataFrame, txns: DataFrame,
      horizon: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val e = events.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts").as("event_ts"))
    val t = txns.withWatermark("ts", watermark)
      .select(col("user_id").as("t_user"), col("txn_id"),
        col("ts").as("txn_ts"), col("value"))
    e.join(t,
      col("user_id") === col("t_user") &&
        col("txn_ts") >= col("event_ts") - expr(s"INTERVAL $horizon") &&
        col("txn_ts") <= col("event_ts"))
      .select(col("user_id"), col("event_id"), col("event_ts"),
        col("txn_id"), col("txn_ts"), col("value"))
  }

  /** Streaming exact dedup on a content key within the watermark horizon
    * — the streaming twin of Dedup.exactGroups: the state store keeps
    * one entry per key until the event-time watermark retires it, so an
    * infinite stream runs in bounded memory.
    */
  def dedupStream(withKey: DataFrame, keyCol: String,
      watermark: String = "30 minutes"): DataFrame =
    withKey
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream–STATIC dim enrichment: the streaming twin of
    * Enricher.enrich — each micro-batch joins the (small, slowly
    * changing) dimension tables, which broadcast per batch; no
    * streaming state at all. This is the most common production
    * streaming join: facts stream, dims don't.
    */
  def enrichStream(txns: DataFrame, dimStore: DataFrame,
      dimProduct: DataFrame): DataFrame =
    txns
      .join(dimStore, Seq("store_id"))
      .join(dimProduct, Seq("sku"))
      .withColumn("revenue_cents",
        col("quantity").cast("long") * col("unit_price_cents").cast("long"))

  /** Micro-batch keyed upsert sink via foreachBatch: each batch merges
    * into the parquet warehouse with the SAME last-write-wins semantics
    * as the batch path ([[graft.etl.Upsert.upsertParquet]]) — the
    * pattern for sinks Structured Streaming cannot express natively
    * (upsert, MERGE, JDBC). foreachBatch gives at-least-once delivery;
    * the keyed upsert makes redelivery idempotent, which is exactly the
    * reference's run_id/txn_id re-run contract.
    */
  def upsertSink(enriched: DataFrame, warehouseDir: String,
      keys: Seq[String], versionCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    enriched.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Upsert.upsertParquet(batch.sparkSession, warehouseDir,
          batch, keys, versionCol)
      }

  /** Streaming SCD2 sink: each micro-batch of change rows
    * (user_id, event_id, ts_s, value) merges into the parquet type-2
    * history at `stateDir` via the SAME [[graft.ops.Scd2]] definition
    * the batch q_scd2/q_scd2_incremental queries use — first batch
    * builds, later batches [[graft.ops.Scd2.applyDelta]]. foreachBatch
    * is at-least-once: the per-key (seen_ts_s, seen_event_id)
    * OBSERVATION watermark inside applyDelta (not valid_from — collapsed
    * duplicates advance observation without advancing valid_from)
    * makes a redelivered batch a no-op, so
    * delivery converges (the upsertSink contract, for interval
    * histories). State swaps by the crash-safe rename
    * ([[graft.etl.Upsert.replaceParquet]]).
    */
  def scd2Sink(changes: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Scd2.mergeIntoParquet(batch.sparkSession, stateDir, batch)
      }

  /** Streaming quantized-ANN SERVING — the foreachBatch pattern composed
    * with the int8 serving path ([[graft.ann.Quantize]]): each
    * micro-batch of float query vectors is quantized
    * (`Quantize.codes`, the same floor-arithmetic codes the persisted
    * table was built with) and ranked brute-force against the PERSISTED
    * int8 code table — the memory-bound serving tier shape (4× less
    * corpus to scan than float32; code dots are exact integer sums, so
    * stream-served results are deterministic and must equal the batch
    * ranking on the same corpus, which StreamingSpec pins against
    * q_ann_topk_quant's operator).
    *
    * Results land in a (query_id, rank)-keyed parquet upsert
    * ([[graft.etl.Upsert.mergeParquet]]): foreachBatch is
    * at-least-once, and the keyed last-write-wins merge (versioned by
    * the serving batch id) makes a REDELIVERED batch converge instead
    * of duplicating result rows — and a re-served query simply
    * overwrites its previous top-k.
    */
  def annServeSink(queries: DataFrame, codeTableDir: String, outDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding", k: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val qCodes = graft.ann.Quantize.codes(
          batch0.dropDuplicates(idCol), idCol, vecCol)
        // the persisted code table: (idCol, qv), written by Quantize.codes
        val corpus = spark.read.parquet(codeTableDir)
        val topk = graft.ann.Ann.bruteForceTopK(corpus, qCodes, idCol, "qv", k)
          .withColumn("served_batch", lit(batchId))
        // a batch spans many query ids: a flat table, merged whole
        graft.etl.Upsert.mergeParquet(spark, outDir, topk,
          keys = Seq("query_id", "rank"), versionCol = "served_batch")
      }

  /** Streaming VECTOR INGEST — the growing-corpus half of the quantized
    * serving tier: each micro-batch of float vectors is assigned to its
    * IVF cell against the FIXED centroid table and quantized to int8
    * codes, and ONE combined row (id, cluster, qv) appends to a
    * cluster-partitioned index. [[graft.ann.Ann.ivfProbeQuantized]]
    * serves straight from it (`assignments = select(id, cluster)`,
    * `codes = select(id, qv)`), so a corpus ingested by the stream is
    * immediately probe-able with cell-pruned int8 ranking.
    *
    * One artifact on purpose: separate code/assignment tables would
    * open a two-append crash window where a vector is half-visible and
    * the redelivery check can't tell; a single append is repaired
    * wholesale by the id anti-join (at-least-once → idempotent, the
    * same convergence contract as the other foreachBatch sinks).
    * Centroids are fixed at ingest time — IVF's standard operating
    * mode; retraining is a batch rebuild with
    * [[graft.ann.Ann.ivfCentroids]] when cell balance drifts.
    */
  def vectorIngestSink(vecs: DataFrame, centroids: DataFrame,
      indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        val p = new org.apache.hadoop.fs.Path(indexDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val deduped = batch0.dropDuplicates(idCol)
        val novel0 =
          if (!fs.exists(p)) deduped
          else {
            val seen = spark.read.parquet(indexDir).select(col(idCol).as("sid"))
            deduped.join(seen, deduped(idCol) === col("sid"), "left_anti")
          }
        // PIN the novel rows: the assignment and code branches below
        // would otherwise re-execute dropDuplicates + anti-join
        // independently, and a duplicate-id batch (at-least-once
        // producer retry with a changed payload) could contribute
        // vector A's cluster joined to vector B's codes — a silently
        // corrupt index row. One materialization, one answer (the
        // nearDupDedupSink invariant), and the batch is deduped and
        // anti-joined once instead of twice.
        val novel = graft.ops.Barrier.iter(novel0)
        try {
          val assigned = graft.ann.Ann.ivfAssignments(
            novel, idCol, vecCol, centroids)
          val coded = graft.ann.Quantize.codes(novel, idCol, vecCol)
          assigned.join(coded, idCol)
            .select(col(idCol), col("cluster"), col("qv"))
            .write.mode("append").partitionBy("cluster").parquet(indexDir)
        } finally graft.ops.Barrier.releaseIter(novel)
      }

  /** Streaming vector ingest with a RE-SIZE policy — closes
    * [[vectorIngestSink]]'s open end: that sink assigns to FIXED
    * centroids, so under corpus-adaptive sizing a growing streamed
    * corpus silently outgrows its nlist (cells average N/nlist vectors;
    * with nlist pinned the probe scan degenerates toward linear — the
    * same measured disease as the fixed-nlist batch defect r14 fixed).
    *
    * The index here is a PUBLISHED versioned store
    * ([[graft.ops.Publish]], root = `storeRoot`, artifacts `centroids`
    * + `index`): per batch, novel vectors (id anti-join against the
    * current index — the redelivery convergence check, one growing
    * artifact so there is no two-append crash window) are assigned to
    * the CURRENT version's centroids and appended to its index. When
    * the corpus outgrows the operating point — N > headroom · nlist²,
    * i.e. average cell occupancy past headroom·√N — the batch that
    * crossed it RETRAINS at nlist′ = max(floor, ⌈√N⌉) and publishes
    * {centroids′, re-assigned index} as the NEXT version behind the
    * manifest swap: mid-stream readers that resolved version v keep
    * reading v's mutually-consistent centroids+index (Publish retains
    * the previous version; within a version the index only APPENDS,
    * and every appended row was assigned with that version's
    * centroids, so v stays probe-consistent while it grows). Triggers
    * are log-spaced (each publish quadruples the next threshold), so
    * total re-assignment work over a stream's life is ≤ 4/3 × the
    * final index build — amortized O(1) per ingested vector.
    *
    * Retraining runs on the DEQUANTIZED index codes (qv cast back to
    * double): spherical k-means only needs directions, which int8
    * codes preserve to ~0.4 % — so the store never keeps a second
    * float copy of the corpus, and the publish twin
    * (train-on-codes) is exactly reproducible batch-side, which the
    * StreamingSpec probe-parity pin exploits.
    */
  def vectorIngestPublishSink(vecs: DataFrame, storeRoot: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nListFloor: Int = 16, headroom: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        import graft.ann.{Ann, Quantize}
        import graft.ops.Publish
        val spark = batch0.sparkSession
        def adaptiveNList(n: Long): Int = math.max(nListFloor,
          math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt)
        def dequantized(index: DataFrame): DataFrame = index
          .select(col(idCol), col("qv").cast("array<double>").as("fv"))
        def writeIndex(rows: DataFrame): String => Unit = out =>
          rows.select(col(idCol), col("cluster"), col("qv"))
            .repartition(col("cluster")) // one file per cell (see A3)
            .write.partitionBy("cluster").parquet(out)
        val cur = Publish.current(spark, storeRoot)
        val deduped = batch0.dropDuplicates(idCol)
        if (cur.isEmpty) {
          // cold start: this batch IS the corpus — train, assign, v1
          val batch = graft.ops.Barrier.iter(deduped)
          try {
            val centroids = Ann.ivfCentroids(batch, idCol, vecCol,
              nCentroids = adaptiveNList(batch.count())).localCheckpoint()
            val indexed = Ann.ivfAssignments(batch, idCol, vecCol, centroids)
              .join(Quantize.codes(batch, idCol, vecCol), idCol)
            Publish.publish(spark, storeRoot, Map(
              "centroids" -> (out => centroids.write.parquet(out)),
              "index" -> writeIndex(indexed))): Unit
            org.apache.spark.sql.graft.CheckpointUtils.release(centroids)
          } finally graft.ops.Barrier.releaseIter(batch)
        } else {
          val centroids = spark.read.parquet(cur("centroids"))
          val seen = spark.read.parquet(cur("index"))
            .select(col(idCol).as("sid"))
          val novel = graft.ops.Barrier.iter(
            deduped.join(seen, deduped(idCol) === col("sid"), "left_anti"))
          try {
            Ann.ivfAssignments(novel, idCol, vecCol, centroids)
              .join(Quantize.codes(novel, idCol, vecCol), idCol)
              .select(col(idCol), col("cluster"), col("qv"))
              .write.mode("append").partitionBy("cluster")
              .parquet(cur("index"))
          } finally graft.ops.Barrier.releaseIter(novel)
          // RE-SIZE trigger on the grown corpus. A crash between the
          // append and the publish re-fires here next batch (N is
          // still past the bound) — the policy needs no journal.
          val grown = spark.read.parquet(cur("index"))
          val n = grown.count()
          val nList = centroids.count()
          if (n > headroom.toLong * nList * nList) {
            val frozen = grown.localCheckpoint() // one answer, three reads
            try {
              val deq = dequantized(frozen)
              val next = Ann.ivfCentroids(deq, idCol, "fv",
                nCentroids = adaptiveNList(n)).localCheckpoint()
              val reassigned = Ann.ivfAssignments(deq, idCol, "fv", next)
                .join(frozen.select(col(idCol), col("qv")), idCol)
              Publish.publish(spark, storeRoot, Map(
                "centroids" -> (out => next.write.parquet(out)),
                "index" -> writeIndex(reassigned))): Unit
              org.apache.spark.sql.graft.CheckpointUtils.release(next)
            } finally org.apache.spark.sql.graft.CheckpointUtils.release(frozen)
          }
        }
      }

  /** Streaming NEAR-dup dedup — the S8 foreachBatch sink composed with
    * the D10 incremental band index: each micro-batch of documents is
    * deduplicated against the persisted corpus (MinHash/LSH + exact
    * Jaccard verify, [[graft.dedup.Dedup.incrementalNearDup]]) and only
    * novel documents are appended to the corpus parquet AND the band
    * index parquet — the index is the same persistence contract batch
    * dedup uses, so a corpus built by the stream is directly queryable
    * by the batch operators.
    *
    * Per batch: (1) exact-id anti-join against the corpus drops
    * REDELIVERED rows (foreachBatch is at-least-once; this converges it
    * — the id check shuffles only the pruned doc-id column; at larger
    * scale a doc-id bloom/index consults cheaper than the scan, see
    * [[graft.ops.BloomPrune]]); (2) incremental near-dup pairs touch
    * only colliding docs through the index; (3) a batch doc is dropped
    * if it near-matches any corpus doc, or a smaller-id doc of its own
    * batch (greedy canonical-representative rule); (4) survivors and
    * their band rows append atomically enough for the idempotence
    * contract — a redelivered batch finds its survivors already in the
    * corpus and appends nothing.
    */
  def nearDupDedupSink(docs: DataFrame, corpusDir: String, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.8,
      nHashes: Int = 128, nBands: Int = 32,
      idBloomPath: Option[String] = None,
      bloomExpectedIds: Long = 1L << 20, bloomFpp: Double = 0.03)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        import graft.dedup.Dedup
        val spark = batch0.sparkSession
        // the two artifacts are checked INDEPENDENTLY: a crash between
        // the index append and the corpus append leaves them one batch
        // apart, and a combined flag would either wedge the stream
        // (index read fails forever) or silently skip index rows.
        // Each path resolves its OWN FileSystem — corpus and index may
        // legitimately live on different stores
        def exists(d: String) = {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        val empty = batch0.limit(0)
        val corpus =
          if (exists(corpusDir)) spark.read.parquet(corpusDir) else empty
        val index =
          if (exists(indexDir)) spark.read.parquet(indexDir)
          else Dedup.minhashIndex(empty, idCol, textCol, n, nHashes, nBands)
        // (1) redelivery convergence: ids already ingested drop out here.
        // With `idBloomPath`, a persisted bloom over every corpus id
        // routes DEFINITELY-novel rows (the overwhelming majority of a
        // healthy stream) past the corpus-id scan entirely; only
        // bloom-positive rows (redeliveries + ~fpp false positives) pay
        // the exact anti-join. Correctness invariant: the bloom is a
        // SUPERSET of the corpus ids at all times (extra ids merely
        // route rows to the exact check; a missing id would let a
        // redelivered doc duplicate) — which the write ordering below
        // maintains across crashes.
        val corpusIds = corpus.select(col(idCol).as("cid"))
        val deduped = batch0.dropDuplicates(idCol)
        val priorBloom: Option[org.apache.spark.util.sketch.BloomFilter] =
          idBloomPath.flatMap { bp =>
            val p = new org.apache.hadoop.fs.Path(bp)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) {
              val in = fs.open(p)
              try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
              finally in.close()
            } else if (exists(corpusDir))
              // legacy corpus without a bloom: one-time full build
              Some(corpus.stat.bloomFilter(idCol, bloomExpectedIds, bloomFpp))
            else None
          }
        val batch = priorBloom match {
          case Some(bf) =>
            val hit = graft.functions.BloomMightContain.ofColumn(col(idCol), bf)
            // null ids make `hit` null — route them to the EXACT branch
            // (where the anti-join keeps them, as the bloom-less path
            // does); only a definite bloom miss skips the exact check
            val maybeSeen = coalesce(hit, lit(true))
            deduped.filter(!maybeSeen).unionByName(
              deduped.filter(maybeSeen)
                .join(corpusIds, deduped(idCol) === col("cid"), "left_anti"))
          case None =>
            deduped.join(corpusIds, deduped(idCol) === col("cid"), "left_anti")
        }
        val pairs = Dedup.incrementalNearDup(batch, corpus, index,
          idCol, textCol, n, threshold, nHashes, nBands)
          .localCheckpoint() // read three ways below; pair work runs once
        // (3) greedy representative rule: every pair touches the batch,
        // so the partner of a corpus doc is always a batch doc; a
        // batch-batch pair drops the larger id (a_id < b_id by
        // construction)
        val dropIds = pairs
          .join(corpusIds, col("a_id") === col("cid"), "left_semi")
          .select(col("b_id").as("doc"))
          .unionByName(pairs
            .join(corpusIds, col("b_id") === col("cid"), "left_semi")
            .select(col("a_id").as("doc")))
          .unionByName(pairs
            .join(corpusIds, col("a_id") === col("cid"), "left_anti")
            .join(corpusIds, col("b_id") === col("cid"), "left_anti")
            .select(col("b_id").as("doc")))
          .distinct()
        val kept = batch
          .join(dropIds, batch(idCol) === dropIds("doc"), "left_anti")
          .localCheckpoint() // the two appends below must see ONE answer
        try {
          // BLOOM FIRST (before index and corpus): the superset
          // invariant must survive any crash window. Crash after the
          // bloom swap but before the corpus append leaves extra ids in
          // the bloom — the redelivered batch routes them to the exact
          // anti-join, finds them absent, and re-processes correctly.
          // The opposite order could mark a doc "definitely ingested"
          // that never reached the corpus: silent duplication. The swap
          // itself is write-tmp-then-rename, so a crash mid-write keeps
          // the previous (still-valid) filter.
          // an all-duplicate (e.g. fully redelivered) batch adds no ids;
          // stat.bloomFilter also cannot aggregate zero rows
          idBloomPath.filter(_ => !kept.isEmpty).foreach { bp =>
            val keptBloom = kept.stat.bloomFilter(idCol, bloomExpectedIds, bloomFpp)
            // rebuild (rather than merge) when the persisted filter is
            // saturated past its design fpp (the corpus outgrew
            // bloomExpectedIds — a merged-forever filter degrades toward
            // answering true for everything, silently re-paying the
            // exact check per row) or was written under different sizing
            // params (mergeInPlace would throw and crash-loop the
            // stream). The rebuild sizes to the ACTUAL corpus — whose
            // scan is the rebuild cost anyway
            def rebuilt(): org.apache.spark.util.sketch.BloomFilter = {
              val ids = corpusIds.unionByName(kept.select(col(idCol).as("cid")))
              val n = math.max(bloomExpectedIds, 2L * ids.count())
              ids.stat.bloomFilter("cid", n, bloomFpp)
            }
            val merged = priorBloom match {
              case Some(old) if old.expectedFpp() <= bloomFpp * 4 =>
                try { old.mergeInPlace(keptBloom); old }
                catch {
                  case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
                    rebuilt()
                }
              case Some(_) => rebuilt() // saturated: resize to the corpus
              case None => keptBloom
            }
            val p = new org.apache.hadoop.fs.Path(bp)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val tmp = new org.apache.hadoop.fs.Path(bp + "__tmp")
            val out = fs.create(tmp, true)
            try merged.writeTo(out) finally out.close()
            // rename OVER the destination (FileContext supports
            // overwrite): the previous filter stays valid until the new
            // one lands — no delete-then-rename window with no filter
            org.apache.hadoop.fs.FileContext
              .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
              .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          }
          // INDEX FIRST: the two appends are not atomic together, so the
          // crash window must leave a state redelivery repairs. Index
          // rows for a doc NOT yet in the corpus are harmless — self
          // pairs are filtered, a candidate pair verifies against the
          // corpus text (absent → dropped), and the redelivered batch
          // re-processes the doc (it fails the corpus id check), merely
          // re-appending band rows that candidates' distinct dedups.
          // Corpus-first would be the silent opposite: survivors present
          // in the corpus anti-join out on redelivery and their band
          // rows would NEVER be written — future near-dups undetected.
          Dedup.minhashIndex(kept, idCol, textCol, n, nHashes, nBands)
            .write.mode("append").parquet(indexDir)
          kept.write.mode("append").parquet(corpusDir)
        } finally {
          org.apache.spark.sql.graft.CheckpointUtils.release(kept)
          org.apache.spark.sql.graft.CheckpointUtils.release(pairs)
        }
      }

  /** Streaming incremental EMBEDDING near-dup — [[nearDupDedupSink]]'s
    * shape for vectors (the r-asked missing twin: text near-dup had
    * both deployment shapes, embeddings only the batch one): each
    * micro-batch of (id, vector) rows probes the PERSISTED sign-LSH
    * bucket index ([[graft.dedup.Dedup.cosineBucketIndex]] — the
    * embedding twin of the MinHash band index) via
    * [[graft.dedup.Dedup.incrementalCosineNearDup]]; the corpus is
    * never re-bucketed. Pairs found append to `pairsDir` (the served
    * relation); batch vectors that near-match the corpus — or a
    * smaller-id batch vector — DROP (greedy canonical-representative
    * rule), and the surviving novel vectors append to BOTH the corpus
    * and the index, so a corpus built by the stream is directly
    * queryable by the batch operators.
    *
    * Redelivery (foreachBatch is at-least-once) converges exactly like
    * the text sink: the exact-id anti-join drops re-delivered survivors,
    * and re-emitted pairs for re-processed dropped vectors are
    * duplicates of already-emitted rows (the pair relation is read
    * `distinct`). INDEX-before-CORPUS append ordering for the same
    * crash-window reason as the text sink: index rows for a vector not
    * yet in the corpus are harmless (verify drops them), while
    * corpus-first would strand survivors without index rows forever.
    *
    * Scale: per batch the work is the (table, bucket) equi-join of the
    * batch's O(batch·tables) bucket rows against the index plus exact
    * verification of the colliding candidates — never a corpus scan,
    * never a cross join (the measured exp-0.36 probe shape, now as the
    * arrival path).
    *
    * Bucket-width compatibility + RE-SIZE policy: the probe buckets
    * each batch with the (tables, bits, seed) the PERSISTED index's
    * meta records ([[graft.dedup.Dedup.readCosineIndexMeta]] — the
    * passed parameters are only the cold-start/legacy fallback), so an
    * index built at any width stays probe-correct. When the grown
    * corpus outgrows its width (adaptiveBits(N) > meta.bits — a
    * streamed corpus crosses the next power of two), the batch that
    * crossed it REBUILDS the index at the new width behind a crash-safe
    * rename swap ([[graft.dedup.Dedup.rebuildCosineIndexSwap]]: rows
    * and meta move as one directory, so no reader can pair new-width
    * rows with old-width meta). Rebuild triggers are log-spaced
    * (one per corpus doubling past the floor), so total rebuild work
    * over a stream's life is ≤ 2× the final index build — amortized
    * O(1) per ingested vector.
    */
  def cosineDedupSink(vecs: DataFrame, corpusDir: String, indexDir: String,
      pairsDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.9,
      tables: Int = 24, bitsPerTable: Int = 16, seed: Long = 42L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        import graft.dedup.Dedup
        val spark = batch0.sparkSession
        def exists(d: String) = {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        // the index's OWN sizing wins; parameters are the cold-start /
        // pre-meta-artifact fallback
        val meta = Dedup.readCosineIndexMeta(spark, indexDir)
          .getOrElse(Dedup.CosineIndexMeta(tables, bitsPerTable, seed, 0L))
        val empty = batch0.limit(0)
        val corpus =
          if (exists(corpusDir)) spark.read.parquet(corpusDir) else empty
        val index =
          if (exists(indexDir)) spark.read.parquet(indexDir)
          else Dedup.cosineBucketIndex(empty, idCol, vecCol,
            meta.tables, meta.bits, meta.seed)
        // redelivery convergence: ids already ingested drop out here
        val corpusIds = corpus.select(col(idCol).as("cid"))
        val deduped = batch0.dropDuplicates(idCol)
        val batch = deduped
          .join(corpusIds, deduped(idCol) === col("cid"), "left_anti")
        val pairs = Dedup.incrementalCosineNearDup(batch, corpus, index,
          idCol, vecCol, threshold, meta.tables, meta.bits, meta.seed)
          .localCheckpoint() // read three ways below; probe work runs once
        // greedy representative rule (the text sink's): a batch vector
        // drops if it pairs with any corpus vector, or with a smaller-id
        // vector of its own batch
        val dropIds = pairs
          .join(corpusIds, col("a_id") === col("cid"), "left_semi")
          .select(col("b_id").as("doc"))
          .unionByName(pairs
            .join(corpusIds, col("b_id") === col("cid"), "left_semi")
            .select(col("a_id").as("doc")))
          .unionByName(pairs
            .join(corpusIds, col("a_id") === col("cid"), "left_anti")
            .join(corpusIds, col("b_id") === col("cid"), "left_anti")
            .select(col("b_id").as("doc")))
          .distinct()
        val kept = batch
          .join(dropIds, batch(idCol) === dropIds("doc"), "left_anti")
          .localCheckpoint() // the two appends below must see ONE answer
        try {
          pairs.write.mode("append").parquet(pairsDir)
          // INDEX FIRST (see nearDupDedupSink for the crash-window proof)
          Dedup.cosineBucketIndex(kept, idCol, vecCol,
            meta.tables, meta.bits, meta.seed)
            .write.mode("append").parquet(indexDir)
          // cold start: the append above created the dir — record the
          // width it actually used before any other reader probes it
          if (Dedup.readCosineIndexMeta(spark, indexDir).isEmpty)
            Dedup.writeCosineIndexMeta(spark, indexDir, meta)
          kept.write.mode("append").parquet(corpusDir)
          // RE-SIZE trigger: the corpus just crossed its width's
          // capacity — rebuild at the adaptive width (never downsizes:
          // floor = the current width). A crash between the corpus
          // append and this swap re-fires the trigger on the next
          // batch (N is still past the boundary), so the policy
          // converges without its own journal.
          val n = spark.read.parquet(corpusDir).count()
          if (Dedup.adaptiveBits(n, meta.bits) > meta.bits)
            Dedup.rebuildCosineIndexSwap(spark.read.parquet(corpusDir),
              idCol, vecCol, indexDir, meta.tables, meta.seed,
              floorBits = meta.bits): Unit
        } finally {
          org.apache.spark.sql.graft.CheckpointUtils.release(kept)
          org.apache.spark.sql.graft.CheckpointUtils.release(pairs)
        }
      }

  /** Streaming anomaly gate — the deploy shape of the z-score gate:
    * the baseline is the PERSISTED moment table (trained batch-side
    * with [[graft.ops.AnomalyGate.moments]] on yesterday's corpus),
    * the traffic is today's event stream, and each micro-batch scores
    * against that fixed baseline ([[graft.ops.AnomalyGate.gate]] — the
    * same definition the batch q_outliers gate uses, so stream and
    * batch can never disagree about what an outlier is). Flagged rows
    * upsert keyed by event_id ([[graft.etl.Upsert.mergeParquet]]): a
    * redelivered batch converges instead of duplicating alerts.
    *
    * Scale: the moment table is |event types| rows (broadcast inside
    * the gate); per batch the work is one narrow scoring pass over the
    * batch plus the |flagged|-sized upsert.
    */
  def anomalyGateSink(events: DataFrame, momentsDir: String,
      outDir: String, threshold: Double = 3.0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val moments = spark.read.parquet(momentsDir)
        val flagged = graft.ops.AnomalyGate
          .gate(batch0.dropDuplicates("event_id"), moments, threshold)
          .withColumn("served_batch", lit(batchId))
        // a batch spans many event ids: a flat table, merged whole
        graft.etl.Upsert.mergeParquet(spark, outDir, flagged,
          keys = Seq("event_id"), versionCol = "served_batch")
      }

  /** Streaming DELETION-REQUEST feed (the CDC shape of
    * right-to-be-forgotten): each micro-batch of `(doc_id)` deletion
    * requests patches the persisted near-dup cluster artifact at
    * `artifactPath` through the SAME [[graft.dedup.Forget.forgetLabels]]
    * definition the batch q_forget_clusters uses, behind the crash-safe
    * rename swap shared with the SCD2 sink. Deletion patches COMPOSE:
    * patching with batch D1 then D2 equals one patch with D1 ∪ D2
    * (each patch ≡ a full rebuild on the filtered corpus, and rebuilds
    * chain), so a request feed split across micro-batches converges to
    * the batch answer — and a REDELIVERED batch is a no-op, because
    * already-forgotten ids appear in no cluster, so the affected set is
    * empty and the patch is the identity.
    */
  def forgetSink(requests: DataFrame, artifactPath: String,
      pairsAmong: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        // micro-batch internals may be consumed once; the deletion set
        // feeds two joins in the patch (foreachBatch holdout, O10)
        val del = batch0.select(col("doc_id")).dropDuplicates("doc_id")
          .localCheckpoint()
        graft.etl.Upsert.replaceParquet(spark, artifactPath) { prev =>
          val labels = prev.getOrElse(throw new IllegalStateException(
            s"forgetSink: no cluster artifact at $artifactPath"))
          graft.dedup.Forget.forgetLabels(labels, del, pairsAmong)
        }
      }

  /** Streaming SKETCH INGEST — the daily-ingest half of the oracled
    * HLL family made real: each events micro-batch is folded into the
    * persisted per-(event_type, day) register table by computing the
    * batch's partial sketches (the SAME
    * [[graft.queries.SketchQ.hllDailySketchesOf]] definition the batch
    * artifact writer uses) and merging register-wise-max into whatever
    * is already on disk, behind the crash-safe rename swap. Register
    * max is associative, commutative and IDEMPOTENT, so any
    * micro-batching — including a redelivered batch — leaves the table
    * bit-identical to the one-pass batch sketch: the rare sink whose
    * at-least-once semantics need no keyed upsert or watermark to
    * converge. Per batch: one narrow pass over batch rows + a
    * |types×days|-row blob merge; corpus rows are never re-read.
    */
  def hllIngestSink(events: DataFrame, regDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = graft.queries.SketchQ.hllDailySketchesOf(batch)
          .localCheckpoint() // batch internals may be consumed once
        graft.etl.Upsert.replaceParquet(batch.sparkSession, regDir) {
          case None => partial
          case Some(cur) => cur.unionByName(partial)
            .groupBy(col("event_type"), col("day"))
            .agg(graft.functions.Hll.mergeSketchOf(col("regs")).as("regs"))
        }
      }

  /** Streaming KMV SKETCH INGEST — the bottom-k twin of
    * [[hllIngestSink]]: each documents micro-batch's per-source partial
    * sketches (the SAME
    * [[graft.queries.SketchQ.kmvSourceSketchesOf]] definition the
    * batch writers use) merge into the persisted sketch table by
    * bottom-k union behind the crash-safe swap. Bottom-k union is
    * associative, commutative and IDEMPOTENT, so any micro-batching —
    * including a redelivered batch — leaves the table bit-identical to
    * the one-pass batch sketch. Per batch: one shingle pass over batch
    * rows + a \|sources\|-row array merge; corpus rows never re-read.
    */
  def kmvIngestSink(docs: DataFrame, skDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = graft.queries.SketchQ.kmvSourceSketchesOf(batch)
          .localCheckpoint() // batch internals may be consumed once
        graft.etl.Upsert.replaceParquet(batch.sparkSession, skDir) {
          case None => partial
          case Some(cur) =>
            graft.queries.SketchQ.kmvMergeSketches(cur.unionByName(partial))
        }
      }

  /** VERSIONED streaming forget — [[forgetSink]] through the
    * transactional artifact store ([[graft.ops.Publish]]): each
    * deletion micro-batch reads the CURRENT version's labels from the
    * manifest, runs the same blast-radius-bounded repair, and publishes
    * the patched labels as version N+1 — readers mid-stream keep a
    * complete, consistent version (the grace window) instead of racing
    * an in-place swap, and one bad batch is one `Publish.rollback`
    * away from undone. Redelivery converges: repairing an
    * already-deleted batch touches no cluster, so the republished
    * version is content-identical.
    */
  def publishForgetSink(requests: DataFrame, storeRoot: String,
      pairsAmong: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        val del = batch0.select(col("doc_id")).dropDuplicates("doc_id")
          .localCheckpoint()
        val cur = graft.ops.Publish.current(spark, storeRoot).getOrElse(
          "clusters", throw new IllegalStateException(
            s"publishForgetSink: no published cluster artifact at $storeRoot"))
        val labels = spark.read.parquet(cur)
        val patched = graft.dedup.Forget.forgetLabels(labels, del, pairsAmong)
          .localCheckpoint() // materialize BEFORE the store changes under it
        graft.ops.Publish.publish(spark, storeRoot, Map(
          "clusters" -> (p => patched.write.mode("overwrite").parquet(p)))): Unit
      }

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drive a streaming AGGREGATION plan to completion over a bounded
    * source and return the final result as a static DataFrame:
    * complete-mode memory sink + `Trigger.AvailableNow` (process
    * everything available, then stop). Complete mode retains all window
    * state, so a bounded run's final table is EXACTLY the batch answer
    * — which is what lets a streaming execution sit in the oracled
    * correctness ledger (q_stream_mart) instead of spec-only evidence.
    * The memory sink is driver-resident: results must be aggregate-sized
    * (|windows| × |types| here), never data-sized.
    */
  def runToCompletion(plan: DataFrame, label: String): DataFrame = {
    val spark = plan.sparkSession
    val sink = s"graft_${label}_${sinkSeq.incrementAndGet()}"
    val q = plan.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    spark.table(sink)
  }
}
