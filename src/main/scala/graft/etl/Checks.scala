package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one data-quality check. */
final case class CheckResult(name: String, pass: Boolean, detail: String)

final class DataQualityError(failed: Seq[CheckResult])
  extends RuntimeException(
    s"${failed.size} data-quality check(s) failed: " +
      failed.map(c => s"${c.name} (${c.detail})").mkString("; "))

/** Data-quality check operators (reference: dbt not_null tests,
  * dbt_retail/models/marts/schema.yml:4-21; singular non-empty test,
  * dbt_retail/tests/assert_non_empty_mart.sql; row-count canary,
  * grocery_reconcile_dag.py:23-35; artifact preconditions,
  * grocery_load_dag.py:34-62).
  *
  * All checks are single-action: notNull computes every column's null
  * count in ONE scan (n columns ≠ n scans — at 100 TB that difference is
  * the whole game).
  */
object Checks {

  /** not_null over several columns in a single pass. */
  def notNull(df: DataFrame, cols: Seq[String]): Seq[CheckResult] = {
    // coalesce: SUM over an empty relation is NULL, not 0
    val row = df.agg(
      count(lit(1)).as("__total"),
      cols.map(c => coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(c)): _*
    ).collect()(0)
    cols.zipWithIndex.map { case (c, i) =>
      val nulls = row.getLong(i + 1)
      CheckResult(s"not_null:$c", nulls == 0, s"$nulls null(s)")
    }
  }

  /** Singular non-empty test (mart must have rows). */
  def nonEmpty(df: DataFrame, name: String): CheckResult = {
    val empty = df.isEmpty // limit-1 probe, not a full count
    CheckResult(s"non_empty:$name", !empty, if (empty) "0 rows" else "has rows")
  }

  /** Row-count canary vs minimum threshold. The rows are counted as they
    * stream out of the plan: one Spark job, where `df.count()` adds an
    * aggregate exchange and, under adaptive execution, a second job.
    */
  def countCanary(df: DataFrame, name: String, minRows: Long): CheckResult = {
    val n = df.queryExecution.toRdd.count()
    CheckResult(s"canary:$name", n >= minRows, s"count=$n min=$minRows")
  }

  /** Artifact-existence precondition: every missing path reported in one
    * diagnostic (reference error-message shape: grocery_load_dag.py:34-62
    * lists all missing upstream artifacts + run diagnostics).
    */
  def requireArtifacts(spark: SparkSession, paths: Seq[String], runId: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val missing = paths.filterNot(p => new Path(p).getFileSystem(hconf).exists(new Path(p)))
    if (missing.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"missing upstream artifact(s) for run_id=$runId: ${missing.mkString(", ")} " +
          s"— did the upstream stage run for this run_id?")
  }

  /** Raise if any check failed. */
  def assertAll(checks: Seq[CheckResult]): Unit = {
    val failed = checks.filterNot(_.pass)
    if (failed.nonEmpty) throw new DataQualityError(failed)
  }

  /** Cross-table integrity report: referential orphans (FK with no
    * parent), primary-key duplicates, and a domain check — the
    * relational-hygiene gate a warehouse load runs before publishing.
    * Each check is one anti-join or one keyed aggregate; the report is
    * checks-sized.
    *
    * The corpus itself is clean (zero violations all three checks), so
    * [[graft.queries]] plants deterministic violations before calling
    * this — an all-zeros report proves nothing about the detector.
    */
  def integrityReport(facts: DataFrame, factKey: String, fkCol: String,
      dims: DataFrame, dimKey: String, domainCol: String): DataFrame = {
    // count(*) is 0 (never NULL) on an empty relation — unlike SUM, per
    // notNull's coalesce note — so no guard is needed here
    val orphan = facts
      .join(dims.select(col(dimKey).as(fkCol)), Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit(s"orphan_$fkCol").as("check"), col("n_bad"))
    val dup = facts.groupBy(col(factKey))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("n_bad"))
      .select(lit(s"dup_$factKey").as("check"), col("n_bad"))
    val dom = facts.filter(col(domainCol) < 0)
      .agg(count(lit(1)).as("n_bad"))
      .select(lit(s"negative_$domainCol").as("check"), col("n_bad"))
    orphan.unionByName(dup).unionByName(dom)
  }
}
