package graft.ops

import org.apache.spark.sql.DataFrame

/** Scan-parallelism floor (r16 — mechanism measured in a dedup
  * decomposition bench, BENCH_NOTES r16): a compact corpus
  * arrives as ONE ≤ 128 MB parquet split (`files.maxPartitionBytes`),
  * so heavy per-row map stages — shingle+minhash, sign-LSH bucketing,
  * PQ encode, IVF assignment, brute-force scoring — run on ONE core
  * while the rest idle, and the tier's scale curve reads as
  * "steep then flat" purely from parallelism unlocking as files grow
  * past the split size (sf1 minhash index build: 21.14 s single-task
  * → 2.64 s fanned).
  *
  * [[apply]] repartitions the NARROW source rows to the session's
  * default parallelism when (and only when) the plan yields fewer
  * partitions — at real scale a corpus arrives in thousands of files
  * and this is a no-op, so no shuffle is added where scan parallelism
  * already exists. Round-robin repartition is deterministic
  * (`spark.sql.execution.sortBeforeRepartition` defaults true), and
  * callers are restricted to stages whose RESULTS are
  * partitioning-invariant (per-row maps, min/max aggregates, exact
  * per-pair arithmetic) — never floating-point Lloyd training, whose
  * sum order must stay reproducible against pinned artifacts.
  */
object FanOut {
  def apply(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
