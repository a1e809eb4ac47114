package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Barrier.Ops
import graft.text.TextOps

/** Deduplication operators for large-scale corpora: exact (hash-groupBy),
  * exact n-gram Jaccard (shingle inverted index), MinHash+LSH (banded
  * signature buckets + exact verification), and SimHash (bit-sampled
  * fingerprints + pigeonhole chunk buckets).
  *
  * Scale design: nothing here compares all N² document pairs. Candidate
  * generation always goes through a shuffle ON A CONTENT KEY (shingle,
  * LSH band bucket, SimHash chunk) so co-occurring documents meet in the
  * same partition; the only pairwise work is within buckets, whose size
  * the banding parameters control. This is the shape that survives a
  * 1000-executor / 100 TB corpus; the driver never sees the data.
  */
object Dedup {

  /** Exact duplicate grouping on an 8-byte normalized-content hash:
    * every document maps to the canonical (minimum) id of its content
    * group. One map-side-combinable shuffle on the hash key. Collision
    * note: at corpus scale a 61-bit hash will collide; production pairs
    * it with a second independent hash (here: bag hash) making false
    * merges vanishingly rare without comparing bodies.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = TextOps.rollingHash(TextOps.normalize(col(textCol)))
    df.select(col(idCol).as("doc"), key.as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col("doc")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
  }

  /** Exact n-gram Jaccard similarity ≥ `threshold` with prefix
    * filtering (SSJoin/PPJoin): each doc's shingles are ordered by
    * global rarity and only the first |d| − ⌈t·|d|⌉ + 1 ("prefix")
    * participate in the inverted-index self-join — any pair with
    * J ≥ t MUST share a prefix shingle (J ≥ t ⟹ |A∩B| ≥ t·|A|, and two
    * sets whose rarity-ordered prefixes are disjoint cannot overlap
    * that much), so candidates are pruned without losing a single true
    * pair; the exact Jaccard then verifies each candidate. A plain
    * full-index self-join produced ~80M intermediate pairs at sf0.1;
    * the prefix index cuts that by ~t/(1−t)² while returning the
    * identical relation (the DuckDB oracle checks this).
    */
  /** The ONE (doc, shingle) exploded-relation definition every
    * shingle-based path shares — index construction, candidate
    * generation and exact verification must shingle identically.
    *
    * SCAN-PARALLELISM FLOOR (r16 — the measured mechanism behind the
    * dedup tier's steep first decade): a compact corpus arrives as ONE
    * ≤ 128 MB parquet split, so the tokenize+shingle+minhash map stage
    * — by far the index build's dominant cost — ran on ONE core while
    * 31 idled (measured 3.42 → 21.14 s sf0.1 → sf1 = single-task
    * linear growth; the sf1 → sf10 "flattening" to d2 0.15 was just
    * the 590 MB file finally splitting 5 ways). When the source scan
    * yields fewer partitions than the cluster's parallelism, a
    * repartition fans the narrow (id, text) rows out BEFORE the
    * explode; at real scale the corpus arrives in thousands of files
    * and the condition is false, so no shuffle is added where scan
    * parallelism already exists.
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    graft.ops.FanOut(df).select(col(idCol).as("doc"),
      explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("sh"))

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, n)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    // global rarity order: document-frequency per shingle
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfr"))
    val byRarity = Window.partitionBy(col("doc")).orderBy(col("dfr"), col("sh"))
    // ceil(t*n) with an epsilon so fp rounding can only ENLARGE the
    // prefix (a too-small prefix would silently drop true pairs)
    val prefixLen = col("n_sh") -
      ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1
    val prefix = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(byRarity))
      .join(sizes, "doc")
      .filter(col("rn") <= prefixLen)
      .select(col("doc"), col("sh"))
    val candidates = prefix.as("x").join(prefix.as("y"), "sh")
      .filter(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
      .distinct()
    verifyExactJaccard(candidates, sh, threshold)
  }

  /** Exact-substring duplicate detection (the Lee et al. 2022
    * "Deduplicating Training Data" notion, re-expressed relationally):
    * two documents are substring dups if they share a VERBATIM run of
    * at least `w` tokens, detected by emitting every length-`w` token
    * window (stride 1, de-duplicated within the document) and pairing
    * through a window-key inverted index — the same
    * equi-join-on-content-key shape as [[jaccardPairs]], so the shuffle
    * distributes by window and no document ever meets more than its own
    * collision set. n_shared counts the pair's distinct shared windows
    * (a shared run of L tokens contributes L−w+1).
    *
    * Boilerplate shedding: windows occurring in more than `maxDf`
    * documents (licenses, headers — the skew that would quadratically
    * blow up the self-join at 100 TB) are dropped from pairing. The cap
    * is part of the operator contract, mirrored in the oracle; shed
    * windows are the ones a curator reviews via frequency reports
    * instead. Windows join as raw strings so the DuckDB oracle replays
    * them — at scale the join key would be xxhash64(win) to shrink the
    * shuffle, which changes no semantics beyond re-verifying collisions.
    */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, maxDf: Int = 64): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // FanOut: the window build (w string joins per token position) is
    // the dominant per-row map — a single-split compact corpus must not
    // run it on one core (same floor as [[shingleRows]]; r18)
    val wins = graft.ops.FanOut(df)
      // sequence() auto-descends when start > stop: docs shorter than w
      // tokens must be filtered out, not clamped
      .filter(size(toks) >= w)
      .select(col(idCol).as("doc"),
        explode(array_distinct(transform(
          sequence(lit(1), size(toks) - (w - 1)),
          i => array_join(slice(toks, i, lit(w)), " ")))).as("win"))
      // feeds the df count AND both self-join sides: window-building is
      // the dominant cost (w string builds per token), do it once
      .barrierOnce()
    val dfreq = wins.groupBy(col("win")).agg(count(lit(1)).as("wdf"))
    // wdf >= 2 is pure pruning (singleton windows cannot pair);
    // wdf <= maxDf is the shedding contract. Checkpointed because keep
    // feeds BOTH self-join sides and each side broadcasts it separately —
    // without the barrier the full window df-count aggregation (a shuffle
    // of every window string) plans TWICE, once per side (the broadcast
    // exchanges defeat ReuseExchange). keep itself is small: only windows
    // with df in [2, maxDf]
    val keep = dfreq.filter(col("wdf") >= 2 && col("wdf") <= maxDf)
      .select("win").barrierOnce()
    val pruned = wins.join(keep, "win")
    pruned.as("x").join(pruned.as("y"), "win")
      .filter(col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** EXACT maximal shared verbatim runs per document pair — the
    * suffix-array-class upgrade over [[substringPairs]]'s shared-window
    * COUNT: for each pair, the length in tokens of the LONGEST verbatim
    * common token run (≥ `w`) and the number of distinct maximal runs.
    *
    * Method: w-token windows annotated with their POSITION are the run
    * anchors — two docs share a verbatim run of exactly L ≥ w tokens
    * iff they share L−w+1 window matches at consecutive positions on
    * one alignment diagonal (pos_a − pos_b). Chaining is the classic
    * gaps-and-islands grouping (pos_a − row_number per (pair, diag)),
    * so max_run = max chain·1 + w − 1 is EXACT for every run ≥ w — the
    * result a suffix-array scan would report, without materializing a
    * distributed suffix array (log-rounds of prefix-doubling shuffles
    * over the full token stream). Windows with document frequency >
    * `maxDf` are shed as boilerplate by contract (same shedding as
    * [[substringPairs]]): a run containing such a window is split or
    * dropped — the trade that keeps hub pages from exploding the join
    * at corpus scale.
    *
    * Scale shape: one window explode (w× token inflation, the same cost
    * [[substringPairs]] already pays), a content-key equi-join (shuffle
    * scales with surviving window occurrences, never doc×doc), then one
    * window function keyed (pair, diagonal) whose input is only the
    * MATCHED anchors. Reference analog: the reference has no substring
    * operator; this serves the Lee-et-al-style training-data dedup the
    * extension mandate names.
    */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, maxDf: Int = 64): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // FanOut: same window-build parallelism floor as [[substringPairs]]
    val wins = graft.ops.FanOut(df)
      .filter(size(toks) >= w)
      .select(col(idCol).as("doc"),
        posexplode(transform(
          sequence(lit(1), size(toks) - (w - 1)),
          i => array_join(slice(toks, i, lit(w)), " "))).as(Seq("pos", "win")))
      .barrierOnce()
    // doc frequency (distinct docs, not occurrences: a doc-internal
    // repeat must not shed a window only two docs share)
    val keep = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc")).as("wdf"))
      .filter(col("wdf") >= 2 && col("wdf") <= maxDf)
      .select("win").barrierOnce()
    val pruned = wins.join(keep, "win")
    val matches = pruned.as("x").join(pruned.as("y"), "win")
      .filter(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        col("x.pos").as("pos_a"), (col("x.pos") - col("y.pos")).as("diag"))
    val byDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("grp", col("pos_a") - row_number().over(byDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + (w - 1)).as("run_len"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run_len")).cast("long").as("max_run"),
        count(lit(1)).cast("long").as("n_runs"))
  }

  /** Exact-Jaccard verification of candidate pairs against the exploded
    * (doc, shingle) relation — the single definition both candidate
    * generators ([[jaccardPairs]], [[minhashLshPairs]]) must share so
    * their outputs stay provably identical.
    */
  private def verifyExactJaccard(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val shSets = sh.groupBy(col("doc")).agg(collect_list(col("sh")).as("shs"))
    candidates
      .join(shSets.select(col("doc").as("a_id"), col("shs").as("sh_a")), "a_id")
      .join(shSets.select(col("doc").as("b_id"), col("shs").as("sh_b")), "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash signatures + banded LSH candidate generation + exact
    * verification. `nHashes` minhash values per doc (xxhash64 seeded by
    * position), `nBands` bands of `nHashes/nBands` rows hashed to a
    * bucket; docs sharing any band bucket become candidates, and
    * candidates are verified with the EXACT Jaccard so the output equals
    * [[jaccardPairs]] up to LSH recall (≥ 1 − (1−t^r)^b, ≈ 1 − 5e-8 at
    * t=0.8 with 32 bands × 4 rows).
    *
    * At 100 TB this is the dedup workhorse: signatures are one narrow
    * pass, candidate generation shuffles (band, bucket) keys only, and
    * the pairwise verify touches candidate pairs, not N².
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      nHashes: Int = 128, nBands: Int = 32): DataFrame = {
    // banding comes from the ONE definition ([[minhashIndex]]) the
    // incremental path also uses — a batch indexed today must collide
    // with a corpus indexed last month, so the band function is a
    // persistence contract, not an implementation detail
    val sh = shingleRows(df, idCol, textCol, n)
    val bands = minhashIndexOf(sh, nHashes, nBands)
    // candidates materialize so the verify side can PRUNE its shingle
    // pass to colliding docs (the semi-join below) instead of
    // re-tokenizing the whole corpus a second time — same shape as
    // [[incrementalNearDup]]; verify cost scales with collision count.
    // Lifecycle also matches incrementalNearDup: the checkpoint backs
    // the returned plan, so it cannot be released here — the
    // ContextCleaner frees it when the caller drops the result frame
    val candidates = bands.as("x").join(bands.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
      .distinct()
      .barrierOnce()
    val touchedIds = candidates.select(col("a_id").as("doc"))
      .unionByName(candidates.select(col("b_id").as("doc"))).distinct()
    val shVerify = shingleRows(
      df.join(touchedIds, df(idCol) === touchedIds("doc"), "left_semi"),
      idCol, textCol, n)
    verifyExactJaccard(candidates, shVerify, threshold)
  }

  /** The persistable MinHash LSH INDEX of a corpus: one (doc, band,
    * bucket) row per band. Build once, write to a table partitioned by
    * band, and incremental batches join against it — the index is the
    * artifact that makes dedup-at-100 TB incremental instead of
    * quadratic-in-reprocessing.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, nHashes: Int = 128, nBands: Int = 32): DataFrame =
    minhashIndexOf(shingleRows(df, idCol, textCol, n), nHashes, nBands)

  /** [[minhashIndex]] over an already-exploded (doc, shingle) relation —
    * the internal overload [[minhashLshPairs]] uses so the corpus
    * shingle pass is defined once per call, not re-derived per stage.
    */
  private def minhashIndexOf(sh: DataFrame,
      nHashes: Int, nBands: Int): DataFrame = {
    require(nHashes % nBands == 0, "nBands must divide nHashes")
    val rowsPerBand = nHashes / nBands
    // (doc, shingle) inverted rows. The Generate (explode) node is a real
    // plan barrier: the tokenize+shingle expression runs ONCE per doc.
    // Computing signatures as nested HOFs instead would let Catalyst's
    // CollapseProject inline that expression into every one of the 128
    // hash lambdas — measured 50x slower at sf0.1. The 128 min-aggregates
    // are one map-side-combinable shuffle on doc, codegen'd throughout.
    val sigCols = (0 until nHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    sh.groupBy(col("doc"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc"),
        array((0 until nHashes).map(i => col(s"h$i")): _*).as("sig"))
      .select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("doc", "band", "bucket")
  }

  /** INCREMENTAL near-dup pairs: every pair at Jaccard ≥ `threshold`
    * that TOUCHES the new batch — new-vs-existing and new-vs-new —
    * without re-scanning the existing corpus. The daily-ingest shape:
    * the existing corpus participates only through (a) its precomputed
    * band `index` (an equi-join on (band, bucket)) and (b) re-shingling
    * of the FEW existing docs that actually collide (a semi-join prunes
    * the corpus scan to candidate ids before tokenization).
    *
    * Equals [[minhashLshPairs]] over (corpus ∪ batch) restricted to
    * pairs with at least one batch doc (same banding, same exact
    * verification — the differential spec and the DuckDB oracle both
    * check this).
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      nHashes: Int = 128, nBands: Int = 32): DataFrame = {
    val newBands = minhashIndex(batch, idCol, textCol, n, nHashes, nBands)
      .barrierOnce() // joined twice (vs index, vs itself): band once
    // new-vs-existing and new-vs-new candidates; a<b canonicalization
    // dedups the within-batch self-join
    val vsOld = newBands.as("x").join(index.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc") =!= col("y.doc"))
      .select(least(col("x.doc"), col("y.doc")).as("a_id"),
        greatest(col("x.doc"), col("y.doc")).as("b_id"))
    val vsNew = newBands.as("x").join(newBands.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
    val candidates = vsOld.unionByName(vsNew)
      .distinct()
      .barrierOnce() // prunes the scans below AND feeds verify
    // newBands is dead once candidates materialized — release it, or a
    // daily-ingest loop pins batch×nBands rows per call
    graft.ops.Barrier.release(newBands)
    // re-shingle ONLY the docs that collided — BOTH sides: verify cost
    // must scale with collision count, not batch size (the dominant
    // majority of a daily batch collides with nothing)
    val touchedIds = candidates.select(col("a_id").as("doc"))
      .unionByName(candidates.select(col("b_id").as("doc"))).distinct()
    def touched(df: DataFrame) =
      df.join(touchedIds, df(idCol) === touchedIds("doc"), "left_semi")
    val sh = shingleRows(touched(corpus).unionByName(touched(batch)),
      idCol, textCol, n)
    verifyExactJaccard(candidates, sh, threshold)
  }

  /** 64-bit SimHash over the token multiset (term-frequency weighted):
    * bit j is the sign of Σ_tokens (±1 by bit j of xxhash64(token)).
    */
  def simhash(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      transform(sequence(lit(0), lit(63)), j => {
        // scala functions.shiftright only takes a literal Int shift —
        // call the SQL function to shift by the lambda variable
        val vote = aggregate(toks, lit(0L), (acc, t) =>
          acc + when(call_function("shiftright", xxhash64(t), j)
            .bitwiseAND(1) === 1, 1L).otherwise(-1L))
        when(vote >= 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)
      }),
      lit(0L), (acc, b) => acc.bitwiseOR(b))

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxHamming`
    * (< 64/16 = 4, so the 4×16-bit chunk pigeonhole is exact: any pair
    * within distance 3 shares at least one identical chunk). Candidates
    * come from a self-join on (chunk index, chunk value) — a content-key
    * shuffle, never N² — and are verified with bit_count(xor).
    */
  /** Distributed simhash: explode tokens (one tokenize per doc, plan
    * barrier as in [[minhashLshPairs]]), then SIXTEEN packed vote-count
    * aggregates instead of 64 single-bit sums: packed long `s_L` holds,
    * in 16-bit lanes m = 0..3, the count of tokens whose hash has bit
    * (L + 16m) set. vote_j = 2*cnt_j − n_tokens, so fingerprint bit j is
    * set iff 2*cnt_j >= n — bit-identical to [[simhash]] for non-empty
    * token lists, whole-stage-codegen'd and map-side combinable, with 4×
    * fewer aggregate columns (the 64-agg version spent its 32 s at sf0.1
    * in the aggregation hash map, not the arithmetic).
    *
    * Overflow safety: lane 3 sits at bit 48, so a lane count of c adds
    * c·2^48 to the packed sum — the aggregate stays inside a signed Long
    * only while c ≤ 16,383 (16,383·(2^48+2^32+2^16+1) < 2^62). Documents
    * are therefore capped at 16,383 tokens, enforced BEFORE the explode
    * (an after-the-fact check would be preempted by ANSI
    * ARITHMETIC_OVERFLOW inside the aggregation); chunk longer docs
    * upstream (TextOps chunking).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val maxToks = 16383
    // posexplode so the (expensive) tokenize expression appears exactly
    // once, as the generator input; the cap guard is a per-row position
    // compare on the exploded side. The error fires while the doc's rows
    // are being produced — overflow needs ~2× more same-bit rows than
    // the cap, so it is unreachable.
    val toks = df.select(col(idCol).as("doc"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "t0")))
      .select(col("doc"),
        when(col("pos") >= maxToks,
          raise_error(concat(lit("simhash64: document "),
            col("doc").cast("string"),
            lit(s" exceeds $maxToks tokens — chunk upstream"))).cast("string"))
          .otherwise(col("t0")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    // per-token spread: lane-group L packs bits {L, L+16, L+32, L+48}
    val spreadCols = (0 until 16).map { l =>
      (0 until 4).map { m =>
        shiftleft(shiftright(col("h"), l + 16 * m).bitwiseAND(1L), 16 * m)
      }.reduce(_ + _).as(s"p$l")
    }
    val packed = toks.select(col("doc") +: spreadCols: _*)
    val aggs = (0 until 16).map(l => sum(col(s"p$l")).as(s"s$l")) :+
      count(lit(1)).as("n")
    val cnts = packed.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
    def cnt(j: Int): Column =
      shiftright(col(s"s${j % 16}"), 16 * (j / 16)).bitwiseAND(0xFFFFL)
    val sh = (0 until 64).map(j =>
      when(cnt(j) * 2 >= col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    cnts.select(col("doc"), sh.as("sh64"))
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4x16-bit chunking is only exact for hamming <= 3")
    val hashed = simhash64(df, idCol, textCol)
    val chunks = hashed.select(col("doc"), col("sh64"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sh64"), c * 16).bitwiseAND(0xFFFFL))))
      .toDF("doc", "sh64", "chunk", "val")
    chunks.as("x").join(chunks.as("y"), Seq("chunk", "val"))
      .filter(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"),
        bit_count(col("x.sh64").bitwiseXOR(col("y.sh64"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate CLUSTERS: connected components over the near-dup pair
    * graph, labeling every document with the minimum doc id of its
    * component (singletons label themselves). Pairs say "these two match";
    * clusters are what dedup actually acts on — keep one representative
    * per cluster.
    *
    * Alternating large-star/small-star (Kiveris et al.): each round
    * rewrites ONLY the edge set (near-dup edges ≪ corpus), so per-round
    * cost is O(|edges|) regardless of corpus size, and rounds converge in
    * O(log diameter) — the corpus-sized doc table is joined exactly once,
    * after the fixpoint, to attach singleton self-labels. This is the
    * shape that survives 100 TB: naive min-label propagation re-shuffles
    * every document every round; this shuffles only the duplicate graph.
    */
  def duplicateClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxIters: Int = 20,
      nHashes: Int = 128, nBands: Int = 32): DataFrame = {
    // EXACT-TEXT CONTRACTION before the banded MinHash (r16 — the text
    // twin of [[graft.multimodal.Multimodal.phashClusterEdges]]'s fix
    // for the measured sf10 quadratic-candidate OOM): a crawled corpus
    // is exact-duplicate-heavy by nature, and every equal-text group
    // collides in EVERY band, so the banded candidate relation carries
    // Σ C(K,2) rows — quadratic in duplicate MULTIPLICITY even when
    // near-dup density is low. Cluster labels never needed those
    // pairs: emit one star edge (min-id rep → member) per equal-text
    // group — K−1 edges, linear — and run the banded workhorse over
    // the DISTINCT-text reps only.
    //
    // The components are PROVABLY those of the full pair relation:
    // equal texts (with ≥ 1 shingle) have identical shingle sets, so
    // Jaccard = 1 ≥ threshold — the full relation makes each group a
    // clique and the star connects the same nodes; across groups,
    // shingle sets (hence Jaccard, bands, and the verify) are
    // functions of the TEXT alone, so (a, b) is a full-relation edge
    // iff (rep_A, rep_B) is one here, and a—rep_A—rep_B—b closes the
    // same component. Zero-shingle docs (fewer than n tokens) never
    // enter the pair relation at all, so they are EXCLUDED from the
    // contraction too (two equal sub-n-token docs are singletons in
    // both graphs). Min-id labels are therefore identical and every
    // cluster-label oracle is unchanged (DedupSpec pins the
    // equivalence on a duplicate-heavy corpus). The one caveat: the
    // equality key is a 128-bit two-seed content hash (see
    // [[textClusterEdges]]), so "identical" is up to a ~2⁻¹²⁹·N²
    // collision — the same class of guarantee the D1 exact-dedup
    // member already ships, two hashes stronger.
    //
    // Scale shape: the contraction groupBy/join shuffle a 24-byte
    // (doc, h1, h2) key — two seeded xxhash64 of the text, never the
    // text itself — and a mega-group costs K rows at one reducer but
    // writes K−1 edges, never C(K,2); the banded join then runs at
    // content DIVERSITY, not corpus size. Pair-SERVING members
    // (q_minhash_lsh, q_jaccard_pairs) keep the exact pair relation
    // unchanged.
    clusterLabels(df, idCol,
      textClusterEdges(df, idCol, textCol, n, threshold, nHashes, nBands),
      maxIters)
  }

  /** [[duplicateClusters]] with the contraction gate's profile EXPOSED
    * (r18): the eligible-key frame and its [[ContractionStats]] are
    * computed exactly ONCE and shared between the returned stats and
    * the branch decision. The gate-witness member
    * (q_dedup_clusters_dupheavy) previously paid a SECOND full
    * stats pass (tokenize + two hashes + a hash-shuffle aggregate over
    * the whole corpus) just to `require` on the branch its own
    * clustering call had already decided internally.
    */
  private[graft] def duplicateClustersProfiled(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxIters: Int = 20, nHashes: Int = 128,
      nBands: Int = 32): (ContractionStats, DataFrame) = {
    val eligible = textEligibleKeys(df, idCol, textCol, n)
    val stats = contractionProfile(eligible, Seq("h1", "h2"))
    (stats, clusterLabels(df, idCol,
      textClusterEdgesFrom(df, idCol, textCol, n, threshold, nHashes, nBands,
        eligible, stats),
      maxIters))
  }

  /** [[duplicateClusters]]' contracted edge relation (star edges over
    * equal-text groups ∪ banded near-dup edges over distinct-text
    * reps) — component-equivalent to the full [[minhashLshPairs]]
    * relation; exposed package-private so DedupSpec can pin the
    * linear-vs-quadratic edge counts alongside the label equivalence.
    */
  private[dedup] def textClusterEdges(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      nHashes: Int, nBands: Int): DataFrame = {
    // equality key = TWO independently seeded xxhash64 of the text
    // (128 bits): the contraction's groupBy + join then shuffle 24-byte
    // rows instead of shipping every full text twice — measured 2× on
    // the sf10 cluster builds. Two docs contract only when BOTH hashes
    // agree; a false merge needs a 128-bit collision (~N²/2¹²⁹ —
    // ~10⁻²⁰ even at 10⁹ docs), strictly stronger than the 64-bit
    // content key the exact-dedup member (D1) already stands on.
    val eligible = textEligibleKeys(df, idCol, textCol, n)
    val stats = contractionProfile(eligible, Seq("h1", "h2"))
    textClusterEdgesFrom(df, idCol, textCol, n, threshold, nHashes, nBands,
      eligible, stats)
  }

  /** [[textClusterEdges]] over a PRECOMPUTED eligible frame + profile —
    * the internal overload [[duplicateClustersProfiled]] uses so a
    * gate-witness member pays the stats pass exactly once.
    */
  private def textClusterEdgesFrom(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      nHashes: Int, nBands: Int,
      eligible: DataFrame, stats: ContractionStats): DataFrame = {
    if (!stats.contract) {
      // duplicate-MASS gate (r17, [[ContractionStats.contract]]): the
      // exact-dup fan-out is linear-bounded (Σk(k−1) ≤ rows — e.g. the
      // driver corpus' planted k = 2 pairs), so the banded workhorse
      // over the ORIGINAL frame is strictly cheaper than the group
      // checkpoint + star-edge join + corpus-sized rep semi-join;
      // labels are branch-identical (equal texts collide in every band
      // and verify at Jaccard 1). This is what makes the contraction's
      // linear-vs-quadratic insurance near-free outside the genuinely
      // duplicate-heavy regime (one stats-only hash aggregate).
      minhashLshPairs(df, idCol, textCol, n, threshold, nHashes, nBands)
        .select(col("a_id"), col("b_id"))
    } else {
      val groups = contractionGroups(eligible, Seq("h1", "h2"), "doc")
      val exact = eligible.join(groups, Seq("h1", "h2"))
        .filter(col("doc") =!= col("rep"))
        .select(col("rep").as("a_id"), col("doc").as("b_id"))
      // rep TEXTS come back via an id semi-join (narrow key), not by
      // carrying the text through the contraction shuffle
      val repDocs = df.join(
        groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
      val near = minhashLshPairs(repDocs, idCol, textCol, n, threshold,
        nHashes, nBands)
        .select(col("a_id"), col("b_id"))
      exact.unionByName(near)
    }
  }

  /** The text family's contraction-eligible key frame: one
    * (doc, h1, h2) row per document with at least `n` tokens (sub-n
    * docs never enter the pair relation, so they never contract
    * either). Shared by [[textClusterEdges]] and the ledger members
    * that witness the gate's decision on their own corpus
    * (q_dedup_clusters_dupheavy), so the eligibility rule can never
    * diverge between the gate and its witnesses.
    */
  private[graft] def textEligibleKeys(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = df
    .select(col(idCol).as("doc"),
      xxhash64(col(textCol)).as("h1"),
      xxhash64(lit(0x9E3779B9L), col(textCol)).as("h2"),
      (size(TextOps.tokens(col(textCol))) >= n).as("ok"))
    .filter(col("ok")).drop("ok")

  /** Exact-duplicate multiplicity profile of a contraction's group
    * table (r17): `maxK` = largest equal-content group, `rows` = Σk =
    * eligible corpus rows, `pairFanout` = Σk(k−1) = twice the in-bucket
    * candidate pairs the equal-content groups would inject into the
    * banded join (each group collides in EVERY band, so its members
    * pair as a clique per band).
    */
  private[graft] object ContractionStats {
    /** Per-task clique-pair cap for the mega-group guard (r18): an
      * equal-content group of k collides in EVERY band, and within a
      * band its k(k−1)/2 candidate pairs land on ONE (band, bucket)
      * shuffle key — i.e. one task's sort buffer, exactly the r15
      * sf10 single-task shape. ~2²⁰ pairs ≈ 50–100 MB of candidate
      * rows in one task (k ≈ 1024): past that, one group alone is a
      * skew/OOM hazard regardless of total duplicate mass.
      */
    val PerTaskPairCap: Long = 1L << 20

    /** MEASUREMENT-ONLY branch override for the gate's own A/B (r18):
      * `SPARK_GRAFT_CONTRACT=always|never` forces one branch so both
      * sides of the {clean, dup-heavy} × {sf} matrix run on the SAME
      * HEAD (the r17 A/B compared commits, which stops working once
      * the HEADs differ by unrelated optimizations). The label relation
      * is branch-identical (see [[ContractionStats.contract]]), so the
      * override never changes any query's result — DedupSpec pins the
      * equivalence both ways. Unset (every driver/oracle run), the
      * gate decides.
      */
    val forced: Option[Boolean] =
      sys.env.get("SPARK_GRAFT_CONTRACT").map {
        case "always" => true
        case "never" => false
        case other => sys.error(
          s"SPARK_GRAFT_CONTRACT must be always|never, got: $other")
      }
  }

  private[graft] final case class ContractionStats(
      maxK: Long, rows: Long, pairFanout: Long) {

    /** The duplicate-MASS gate: contract only when the exact-dup pair
      * fan-out is super-linear in the corpus — Σk(k−1) > Σk, i.e. more
      * than one extra banded candidate per eligible row. Below that the
      * banded path absorbs the duplicates at ≤ nBands·rows/2 extra
      * join rows (≤ half of the banding shuffle it pays anyway), which
      * is strictly cheaper than the contraction's two corpus-sized
      * shuffles (star join + rep semi-join — the premium measured
      * +40–77% on the r16 cluster members). Above it the fan-out is the
      * quadratic regime the r15 sf10 OOM lived in (197k assets over
      * 1,617 hashes: Σk(k−1) ≈ 24M ≫ 197k) and the linear star
      * contraction is mandatory. A maxK ≤ 1 corpus has fanout 0 and
      * never contracts; the label relation is branch-IDENTICAL either
      * way (equal content collides in every band and verifies at
      * distance 0 / Jaccard 1, so the full relation already cliques
      * each group — DedupSpec/CurationSpec pin it), so the gate is
      * pure cost policy.
      *
      * Second clause (r18, the mega-group guard): total MASS can stay
      * linear while ONE group concentrates it — k ≈ √N exact copies in
      * an otherwise-clean corpus reads Σk(k−1) ≈ N (gate says skip)
      * yet ships k(k−1)/2 clique pairs through a single (band, bucket)
      * task per band, the very skew the contraction insures against.
      * So also contract whenever the LARGEST group alone exceeds the
      * per-task pair cap ([[ContractionStats.PerTaskPairCap]]).
      */
    def contract: Boolean = ContractionStats.forced.getOrElse(
      pairFanout > rows ||
        maxK * (maxK - 1) > ContractionStats.PerTaskPairCap)
  }

  /** The gate's multiplicity profile as a STATS-ONLY pass (r17): one
    * groupBy-count over the 24-byte content keys folded straight into a
    * three-number aggregate — NO group-table materialization, no
    * checkpoint write, one action. This is what makes the skip branch
    * actually cheap: the first r17 gate still paid
    * the materialized group table before branching, and an interleaved
    * A/B read the "gated" cluster members at parity with always-contract
    * (B/A 1.01–1.07 at sf0.1) because the premium lives in the
    * checkpoint, not the star joins. Duplicate-heavy corpora pay this
    * hash shuffle twice (profile + [[contractionGroups]]) — noise next
    * to the quadratic fan-out the contraction removes there.
    */
  private[graft] def contractionProfile(eligible: DataFrame,
      keys: Seq[String]): ContractionStats = {
    val prof = eligible.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("k"))
      .agg(max(col("k")), sum(col("k")),
        sum(col("k") * (col("k") - 1))).head
    def l(i: Int): Long =
      if (prof.isNullAt(i)) 0L else prof.getLong(i)
    ContractionStats(l(0), l(1), l(2))
  }

  /** The contraction's group table — one (keys…, rep = min doc, k)
    * row per distinct content key, MATERIALIZED once so the star join
    * and the rep semi-join share it. Built ONLY in the contract branch
    * ([[contractionProfile]] decides); the frame backs the returned
    * edge plan, so the ContextCleaner owns its release.
    */
  private[graft] def contractionGroups(eligible: DataFrame,
      keys: Seq[String], docCol: String): DataFrame =
    graft.ops.Barrier.iter(
      eligible.groupBy(keys.map(col): _*)
        .agg(min(col(docCol)).as("rep"), count(lit(1)).as("k")))

  /** Attach connected-component labels to an id universe given a
    * near-dup (a_id < b_id) pair relation: every id maps to its
    * component's minimum id, singletons to themselves. The id table is
    * joined exactly once, after the (edge-only) star contraction; the
    * tiny star edge set stays pinned until the result frame is dropped
    * and the ContextCleaner collects it.
    */
  def clusterLabels(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val stars = connectedComponents(pairs, maxIters)
    ids.select(col(idCol).as("doc_id"))
      .join(stars.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Test-set decontamination: per corpus document, the number of its
    * distinct word `n`-grams that appear ANYWHERE in the benchmark/eval
    * corpus, plus the boolean verdict. The standard pre-training hygiene
    * operator (a training corpus must not contain eval data) — 8- to
    * 13-gram overlap is the usual industry test.
    *
    * Shape: both sides explode to (doc, shingle); the benchmark's
    * distinct shingle set joins the corpus side on the shingle CONTENT
    * KEY — a shuffle (or, when the benchmark is small, a statistics-
    * chosen broadcast) that scales with corpus shingle count, never a
    * doc×doc comparison. Zero-hit docs are preserved by the final left
    * join against the id universe.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    // FanOut: tokenize + 8-gram shingling is the heavy per-row map —
    // same single-split parallelism floor as [[shingleRows]] (r18)
    def sh(df: DataFrame) = graft.ops.FanOut(df)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("sh"))
    val bSh = sh(benchmark).select("sh").distinct()
    val hits = sh(corpus).join(bSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Connected components over an (a_id < b_id) pair relation by
    * alternating large-star/small-star until the edge set reaches its
    * fixpoint: per-component stars, one (node, component-min-root) edge
    * per non-root node. Only the edge set is ever shuffled or
    * checkpointed; the convergence check is one exact set-difference
    * action per round.
    */
  private[dedup] def connectedComponents(pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // canonical edge orientation throughout: (u = bigger id, v = smaller).
    // DEFERRED barrier + count (r18): the convergence count is a
    // full-coverage action, so it doubles as the lazy checkpoint's
    // materialization — one job per round where the eager barrier paid
    // a dedicated materialization job AND the count (the same fusion
    // trainIncremental's delta pass uses). Release order is unchanged:
    // the previous round's frame is released only after the count has
    // materialized the next one.
    var cur = graft.ops.Barrier.iterLazy(
      pairs.select(col("b_id").as("u"), col("a_id").as("v")))
    var curCount = cur.count()
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val next = graft.ops.Barrier.iterLazy(smallStar(largeStar(cur)))
      // Exact set-equality at the cost of ONE count (which IS the round's
      // materialization) on non-final iterations: smallStar
      // output is distinct, so |next| == |cur| plus next \ cur == ∅ ⇒ the
      // sets are equal. The previous two-sided except + union paid two
      // anti-join shuffles EVERY round — pure overhead on the tiny
      // post-contraction edge sets (BENCH_NOTES r9).
      val nextCount = next.count()
      changed = nextCount != curCount || !next.except(cur).isEmpty
      graft.ops.Barrier.releaseIter(cur)
      cur = next
      curCount = nextCount
      iter += 1
    }
    cur
  }

  /** Large-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): every node x links each STRICTLY LARGER neighbor to
    * m(x) = min(N(x) ∪ {x}). Operates on — and emits — canonical
    * (u > v) edges; one groupBy + one join, both shuffling only the edge
    * set, never the corpus.
    */
  private def largeStar(cur: DataFrame): DataFrame = {
    val sym = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
      .toDF("x", "y")
    val m = sym.groupBy(col("x")).agg(min(col("y")).as("mny"))
      .select(col("x"), least(col("x"), col("mny")).as("m"))
    sym.join(m, "x")
      .filter(col("y") > col("x"))
      .select(col("y").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every node u links itself and all its SMALLER neighbors
    * to the smallest of them. Alternating large/small-star converges to
    * per-component stars rooted at the minimum id in O(log diameter)
    * rounds — the chain-graph worst case that takes `diameter` rounds of
    * naive min-label propagation halves each pass here.
    */
  private def smallStar(cur: DataFrame): DataFrame = {
    val m = cur.groupBy(col("u")).agg(min(col("v")).as("m"))
    val withM = cur.join(m, "u")
    withM.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(withM.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** (id, v as double[], norm) projection shared by the cosine paths. */
  private def prepVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.ArrayDotProduct.ofColumns
    // FanOut: the norm + downstream bucket/dot folds are the heavy
    // per-row maps — single-split compact corpora must not run them on
    // one core (see graft.ops.FanOut; results per-row invariant)
    graft.ops.FanOut(df).select(col(idCol).as("doc"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", sqrt(ofColumns(col("v"), col("v"))))
      // zero-norm vectors have no cosine: under ANSI arithmetic the
      // division would RAISE (one degenerate embedding killing a
      // corpus-sized dedup pass), so the pair/bucket contract is
      // explicit — they never pair, never bucket, and stay singletons
      // in every cluster consumer (the same eligibility rule as
      // [[cosineClusterEdges]]'s contraction)
      .filter(col("norm") > 0)
  }

  /** Exact-cosine verification of candidate (a_id, b_id) pairs — the one
    * definition both the all-pairs reference and the LSH-bucketed path
    * share, so their outputs stay provably identical on found pairs.
    */
  private def verifyCosine(candidates: DataFrame, prepped: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.ArrayDotProduct.ofColumns
    candidates
      .join(prepped.select(col("doc").as("a_id"), col("v").as("va"),
        col("norm").as("na")), "a_id")
      .join(prepped.select(col("doc").as("b_id"), col("v").as("vb"),
        col("norm").as("nb")), "b_id")
      .withColumn("cosine", ofColumns(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Connected-component EDGES for embedding clustering, with
    * EXACT-VECTOR CONTRACTION before the pair search — the embedding
    * twin of [[textClusterEdges]] (r16; the same duplicate-multiplicity
    * lesson as the mm sf10 OOM): a corpus where many docs share one
    * embedding (exact re-crawls, boilerplate pages, canonical images)
    * makes every pair builder emit Σ C(K,2) pair rows per equal-vector
    * group — quadratic in multiplicity — when the cluster labels only
    * ever needed K−1 star edges.
    *
    * `pairsOf` runs the caller's pair search (blocked-exact, bucketed
    * sign-LSH, …) over the DISTINCT-vector reps only. Components equal
    * the full relation's: equal nonzero vectors have engine cosine
    * dot(v,v)/sqrt(dot)² = 1 − O(ulp) ≥ any threshold < 1, so the full
    * relation makes each group a clique and the star connects the same
    * nodes; across groups cosine is a function of the two VECTORS, so
    * (a, b) is a full-relation edge iff (rep_A, rep_B) is one here.
    * Zero/null/empty vectors never pair in the full relation (their
    * cosine is null) and are excluded from the contraction too.
    * DedupSpec pins the label equivalence and the linear edge counts.
    */
  def cosineClusterEdges(df: DataFrame, idCol: String, vecCol: String,
      pairsOf: DataFrame => DataFrame): DataFrame = {
    // same 128-bit two-seed equality key as [[textClusterEdges]]: the
    // contraction shuffles 24-byte rows, never the vectors themselves;
    // rep vectors come back via an id semi-join
    val eligible = df
      .filter(col(vecCol).isNotNull && exists(col(vecCol), x => x =!= 0))
      .select(col(idCol).as("doc"),
        xxhash64(col(vecCol)).as("h1"),
        xxhash64(lit(0x9E3779B9L), col(vecCol)).as("h2"))
    val stats = contractionProfile(eligible, Seq("h1", "h2"))
    if (!stats.contract) {
      // duplicate-MASS gate (r17, [[ContractionStats.contract]]):
      // linear-bounded exact-dup fan-out ⇒ the bucketed path absorbs
      // the duplicate groups cheaper than the group checkpoint + joins
      pairsOf(df).select(col("a_id"), col("b_id"))
    } else {
      val groups = contractionGroups(eligible, Seq("h1", "h2"), "doc")
      val exact = eligible.join(groups, Seq("h1", "h2"))
        .filter(col("doc") =!= col("rep"))
        .select(col("rep").as("a_id"), col("doc").as("b_id"))
      val repDocs = df.join(
        groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
      val near = pairsOf(repDocs).select(col("a_id"), col("b_id"))
      exact.unionByName(near)
    }
  }

  /** Exact cosine near-duplicate pairs over an embedding column, cosine
    * ≥ `threshold`. All-pairs — the verification/reference twin of
    * [[cosinePairsBucketed]]; correct at differential-test scale, O(N²)
    * by construction, so never the benched/production path.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.ArrayDotProduct.ofColumns
    val prepped = prepVectors(df, idCol, vecCol)
    val a = prepped.select(col("doc").as("a_id"), col("v").as("va"), col("norm").as("na"))
    val b = prepped.select(col("doc").as("b_id"), col("v").as("vb"), col("norm").as("nb"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("dot", ofColumns(col("va"), col("vb")))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact cosine near-dup pairs via BLOCKED all-pairs: vectors are
    * hash-assigned to one of `blocks` buckets; the B(B+1)/2 unordered
    * block pairs enumerate as a broadcast relation, and every vector
    * pair (x, y) meets EXACTLY once — in block pair
    * (min(bx,by), max(bx,by)) — through plain equi-joins on the block
    * key. Identical relation to [[cosinePairs]], but the plan has no
    * CartesianProduct: the N²/2 dot products distribute evenly across
    * executors (a nested-loop cartesian serializes per partition pair
    * and resists AQE), and the only amplification is the B× fan-out of
    * the narrow vector table. Size `blocks` to ~2–4× the executor-slot
    * count at scale (the block key has B distinct values, so B bounds
    * the shuffle parallelism of the second join).
    *
    * Use this when the threshold sits BELOW the bulk of the pair-cosine
    * distribution — exactness is Ω(N²) there, and the testdata's t=0.4
    * is exactly that regime (see the measured note on
    * [[cosinePairsBucketed]], which wins when the threshold prunes).
    */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    import graft.functions.ArrayDotProduct.ofColumns
    val spark = df.sparkSession
    import spark.implicits._
    val prepped = prepVectors(df, idCol, vecCol)
      .withColumn("block", pmod(xxhash64(col("doc")), lit(blocks)).cast("int"))
    val blockPairs = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      .toDF("bl", "br")
    val left = prepped.select(col("block").as("bl"), col("doc").as("da"),
      col("v").as("va"), col("norm").as("na"))
    val right = prepped.select(col("block").as("br"), col("doc").as("db"),
      col("v").as("vb"), col("norm").as("nb"))
    broadcast(blockPairs)
      .join(left, "bl")
      .join(right, "br")
      // same-block pairs dedup by id order; cross-block pairs appear once
      .filter(col("bl") < col("br") || col("da") < col("db"))
      .withColumn("cosine", ofColumns(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding near-dup pairs via sign-LSH bucket candidates + exact
    * cosine verification — the no-cartesian form of [[cosinePairs]]:
    * `tables` hash tables of `bitsPerTable` seeded sign-hyperplanes each;
    * two vectors become a candidate pair iff they agree on EVERY bit of
    * at least one table (an equi-join on the (table, bucket) content
    * key), and exact cosine then verifies each candidate. Precision is
    * exact; per-pair recall is 1 − (1 − p^b)^L with p = 1 − θ/π.
    *
    * Parameter honesty, measured on the testdata (sf0.1: 2,000 × 64-dim,
    * 920 true pairs at t = 0.4, pair-cosine bulk just BELOW 0.4): at this
    * adversarially low threshold sign-LSH prunes only ~3% of pairs, so
    * the defaults are tuned for recall (4 bits × 96 tables → per-pair
    * miss ≈ 3e-8 at cos = 0.4; verified pair-identical to the all-pairs
    * reference at sf0.01 and sf0.1). At a production near-dup threshold
    * (t ≈ 0.9 ⇒ p ≈ 0.86) the same machinery prunes 99.9 %+ with 8-bit
    * tables. The scale property vs [[cosinePairs]] is the SHAPE: work
    * scales with bucket co-occurrence, shuffled on content keys, never a
    * cross join.
    */
  def cosinePairsBucketed(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 96, bitsPerTable: Int = 4,
      seed: Long = 42L): DataFrame = {
    val prepped = prepVectors(df, idCol, vecCol)
    signBuckets(df, prepped, idCol, vecCol, tables, bitsPerTable, seed) match {
      case None => // empty/all-null vector table: the empty pair relation
        verifyCosine(
          prepped.select(col("doc").as("a_id"), col("doc").as("b_id")).limit(0),
          prepped, threshold)
      case Some(buckets) =>
        val candidates = buckets.as("x")
          .join(buckets.as("y"), Seq("table", "bucket"))
          .filter(col("x.doc") < col("y.doc"))
          .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
          .distinct()
        verifyCosine(candidates, prepped, threshold)
    }
  }

  /** The (doc, table, bucket) sign-LSH relation every bucketed cosine
    * path shares — the self-join pair search, the PERSISTED corpus
    * index and the incremental batch probe must bucket identically or
    * candidates silently diverge. None when the vector table is empty
    * (no dim to build planes for).
    */
  private def signBuckets(df: DataFrame, prepped: DataFrame,
      idCol: String, vecCol: String, tables: Int, bitsPerTable: Int,
      seed: Long): Option[DataFrame] = {
    // infer dim from data: a plane/vector length mismatch nulls the dot
    // and would silently land everything in bucket 0
    val dimRow = df.select(size(col(vecCol)).as("d"))
      .filter(col("d").isNotNull).head(1)
    if (dimRow.isEmpty) return None
    val dim = dimRow(0).getInt(0)
    // native per-(row, table) bucket loop (r16): the aggregate-over-bits
    // HOF fold paid an interpreted dispatch per (row, table, bit) —
    // tables × up-to-48 bits of them per corpus row, the map-side term
    // of the index build; signs and null plumbing bit-identical
    // (SignLshBucket scaladoc; SignLshBucketSpec differential)
    val bucket = graft.functions.SignLshBucket.ofColumns(
      col("v"), col("table"),
      (0 until tables).map(t => graft.ann.Ann.planes(seed + t, bitsPerTable, dim)))
    // explode is the plan barrier: v materializes once per (row, table)
    // at the Generate, the per-table bucket fold runs on top of it
    Some(prepped
      .select(col("doc"), col("v"),
        explode(sequence(lit(0), lit(tables - 1))).as("table"))
      .withColumn("bucket", bucket)
      .select(col("doc"), col("table"), col("bucket")))
  }

  /** The PERSISTABLE corpus-side bucket index for the selective-
    * threshold regime: one (doc, table, bucket) row per (vector,
    * table), written once per corpus version and probed by every
    * arriving batch — the embedding-modality twin of [[minhashIndex]].
    * Empty corpus → empty index.
    */
  def cosineBucketIndex(corpus: DataFrame, idCol: String, vecCol: String,
      tables: Int = 24, bitsPerTable: Int = 16, seed: Long = 42L): DataFrame = {
    val prepped = prepVectors(corpus, idCol, vecCol)
    signBuckets(corpus, prepped, idCol, vecCol, tables, bitsPerTable, seed)
      .getOrElse(prepped.select(col("doc"), lit(0).as("table"),
        lit(0L).as("bucket")).limit(0))
  }

  /** Corpus-adaptive sign-LSH bucket width: bits = max(floor,
    * ⌈log₂ N⌉ + 2) (capped at 48 so the per-table fold stays inside a
    * Long with room).
    *
    * The r14 scale lesson, third instance (after IVF nlist and nProbe):
    * a FIXED bucket width degenerates one decade after it looks fine —
    * expected random collisions per table are ~N²/2^bits, so pinning
    * bits pins the denominator while the numerator squares (measured:
    * q_embed_near_dup_selective 7.45 → 56.68 s over sf1 → sf10 at the
    * old fixed 16 bits, BENCH_DEDUP_r14_sf10). With bits ≈ log₂N + 2
    * the expected collisions per table stay ≤ N/4 — candidate
    * verification linear in the corpus, the correct asymptote for an
    * all-pairs-output build. The 2 slack bits are the hash-table
    * load-factor rule: bare ⌈log₂N⌉ lets the collision rate oscillate
    * between 0.5·N and 1.0·N with the rounding phase (measured: sf10
    * lands at phase 0.84·N and paid 31 s where sf1's phase was
    * 0.34·N — slack flattens the phase, not just the asymptote).
    * Recall: each +1 bit multiplies the per-table hit probability by
    * p = 1 − θ/π, which for genuine near-dups (cos ≥ 0.99 ⇒ p ≥
    * 0.955) costs almost nothing while halving random collisions —
    * LSH amplification hurts far pairs much faster than near pairs
    * (at 24 tables and cos 0.997, the planted-twin contract, per-pair
    * miss stays < 1e-9 through 24 bits). The floor keeps every corpus
    * at or below 2^14 vectors (all oracled SFs) at the historical
    * 16-bit operating point, so hash-matched members are bit-unchanged
    * there.
    */
  def adaptiveBits(n: Long, floor: Int = 16): Int = {
    val lg = if (n <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L) // ⌈log₂ n⌉
    math.min(48, math.max(floor, lg + 2))
  }

  /** The sizing/compatibility contract a PERSISTED cosine bucket index
    * carries: probes must bucket the arriving batch with the SAME
    * (tables, bits, seed) the index was built with, or the (table,
    * bucket) equi-join silently finds nothing. Stored as
    * `_graft_cosidx_meta` INSIDE the index's parquet directory
    * (underscore-prefixed → invisible to the parquet reader, and it
    * travels with any whole-directory rename swap, so index rows and
    * their sizing can never commit separately).
    */
  final case class CosineIndexMeta(tables: Int, bits: Int, seed: Long,
      n: Long)

  private val CosMetaName = "_graft_cosidx_meta"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeCosineIndexMeta(spark: SparkSession, indexDir: String,
      meta: CosineIndexMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, CosMetaName)
    val out = fsOf(spark, indexDir).create(p, true)
    try out.write(
      s"${meta.tables}\t${meta.bits}\t${meta.seed}\t${meta.n}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** None for a pre-r15 index directory (those encode the legacy fixed
    * 16-bit buckets — callers fall back to the historical parameters,
    * so old artifacts stay probe-compatible).
    */
  def readCosineIndexMeta(spark: SparkSession,
      indexDir: String): Option[CosineIndexMeta] = {
    val fs = fsOf(spark, indexDir)
    val p = new org.apache.hadoop.fs.Path(indexDir, CosMetaName)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val line =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    // A present-but-corrupt meta (crash between create and write/close)
    // must fail LOUDLY: falling back to the legacy 16-bit parameters on
    // a wider index is the silent zero-candidate probe failure this
    // file exists to prevent.
    val parts = line.split("\t", 4)
    if (parts.length != 4)
      throw new IllegalStateException(
        s"corrupt cosine index meta at $p: expected 4 tab-separated " +
          s"fields, got ${parts.length} in '$line' — rebuild the index")
    try Some(CosineIndexMeta(parts(0).toInt, parts(1).toInt,
      parts(2).toLong, parts(3).toLong))
    catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt cosine index meta at $p: unparseable field in " +
          s"'$line' — rebuild the index", e)
    }
  }

  /** Build + persist the corpus bucket index at the corpus-adaptive
    * width, meta alongside the rows: the ONE builder every cosidx
    * writer (batch stage, stream seed) shares. Returns the sizing it
    * chose.
    */
  def writeCosineIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, tables: Int = 24, seed: Long = 42L,
      floorBits: Int = 16): CosineIndexMeta = {
    // Rows and meta commit ATOMICALLY: build both into a temp dir, then
    // one whole-directory rename. A crash can leave the old index or no
    // index (both loud), never adaptive-width rows under missing meta —
    // the legacy-fallback zero-candidate probe failure.
    val spark = corpus.sparkSession
    val fs = fsOf(spark, indexDir)
    val target = new org.apache.hadoop.fs.Path(indexDir)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + "__build")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val n = corpus.count()
    val meta = CosineIndexMeta(tables, adaptiveBits(n, floorBits), seed, n)
    cosineBucketIndex(corpus, idCol, vecCol, tables, meta.bits, seed)
      .write.mode("overwrite").parquet(tmp.toString)
    writeCosineIndexMeta(spark, tmp.toString, meta)
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new RuntimeException(
        s"cosine index commit failed: $tmp -> $target")
    meta
  }

  /** Crash-safe RE-SIZE of a live index directory (the streaming-ingest
    * rebuild trigger fires mid-stream): the re-bucketed rows AND their
    * meta are written to a temp dir first, then rename-swapped into
    * place by the same recovery and two-rename swap as
    * [[graft.etl.Upsert.replaceParquet]] — at no instant can a reader see
    * new-width rows under old-width meta (the silent-candidate-loss
    * failure a separate meta write would open).
    */
  def rebuildCosineIndexSwap(corpus: DataFrame, idCol: String,
      vecCol: String, indexDir: String, tables: Int = 24,
      seed: Long = 42L, floorBits: Int = 16): CosineIndexMeta = {
    val fs = fsOf(corpus.sparkSession, indexDir)
    val target = new org.apache.hadoop.fs.Path(indexDir)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + "__tmp")
    val old = new org.apache.hadoop.fs.Path(indexDir + "__old")
    graft.etl.Upsert.recover(fs, target, tmp, old)
    graft.etl.Upsert.swapIn(fs, target, tmp, old) { t =>
      writeCosineIndex(corpus, idCol, vecCol, t.toString, tables, seed, floorBits)
    }
  }

  /** Incremental selective near-dup: pairs (cosine ≥ threshold) that
    * INVOLVE the arriving batch — batch↔corpus candidates from probing
    * the PERSISTED [[cosineBucketIndex]] (the corpus is never
    * re-bucketed) plus batch-internal pairs from the self-join path,
    * both exact-verified. With the same (tables, bits, seed) this is
    * provably the full [[cosinePairsBucketed]] relation restricted to
    * pairs touching the batch — the "incremental ≡ full" contract the
    * text-side [[incrementalNearDup]] pins, now for embeddings
    * (q_embed_near_dup_incremental shares the full query's oracle).
    */
  def incrementalCosineNearDup(batch: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 24, bitsPerTable: Int = 16,
      seed: Long = 42L): DataFrame = {
    val batchPrepped = prepVectors(batch, idCol, vecCol)
    val allPrepped = prepVectors(corpus.unionByName(batch), idCol, vecCol)
    val cross = signBuckets(batch, batchPrepped, idCol, vecCol,
      tables, bitsPerTable, seed) match {
      case None => allPrepped
        .select(col("doc").as("a_id"), col("doc").as("b_id")).limit(0)
      case Some(batchBuckets) =>
        corpusIndex.select(col("doc").as("cdoc"), col("table"), col("bucket"))
          .join(batchBuckets.select(col("doc").as("bdoc"), col("table"),
            col("bucket")), Seq("table", "bucket"))
          .filter(col("cdoc") =!= col("bdoc"))
          .select(least(col("cdoc"), col("bdoc")).as("a_id"),
            greatest(col("cdoc"), col("bdoc")).as("b_id"))
          .distinct()
    }
    val within = cosinePairsBucketed(batch, idCol, vecCol, threshold,
      tables, bitsPerTable, seed)
    verifyCosine(cross, allPrepped, threshold)
      .unionByName(within)
      .distinct()
  }
}
