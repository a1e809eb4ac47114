package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert semantics (reference: grocery_lib/pg.py:33-60 —
  * `INSERT ... ON CONFLICT (run_id, txn_id) DO UPDATE`, executed row-at-a-
  * time; sql/init.sql:47-61 — `ON CONFLICT DO NOTHING` idempotent seeds).
  *
  * The row-at-a-time loop is deliberately NOT ported: the set-based
  * equivalent deduplicates the batch on the key (only the batch
  * shuffles), drops the table rows whose key the batch carries with a
  * broadcast left-anti join, and appends the batch. The table side never
  * shuffles, so a small batch costs a scan and a rewrite of the table,
  * not a sort of it. The table holds one row per key; every write path
  * here keeps it that way.
  */
object Upsert {

  /** One row per key: the greatest `versionCol` wins (ties arbitrary).
    * The shuffle on the key keeps one partition per core: left to
    * adaptive coalescing, a bulk first batch of a few tens of MB would
    * sort and write in a single task.
    */
  def latestPerKey(rows: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, keys.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Last-write-wins merge: rows in `updates` replace same-keyed rows in
    * `base` (which must be unique on `keys`); within `updates` the
    * greatest `versionCol` wins. Equivalent to ON CONFLICT DO UPDATE with
    * deterministic ordering. Keeps `base`'s column order.
    */
  def merge(base: DataFrame, updates: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    // the raw batch carries the same key set as its deduplicated form,
    // so the broadcast side needs no shuffle
    base.join(broadcast(updates.select(keys.map(col): _*)), keys, "left_anti")
      .select(base.columns.map(col): _*) // a USING join moves the keys first
      .unionByName(latestPerKey(updates, keys, versionCol))
  }

  /** ON CONFLICT DO NOTHING: append only rows whose key is absent. */
  def insertIfAbsent(existing: DataFrame, rows: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.unionByName(
      rows.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** Upsert a batch into a parquet "table" directory with a rename swap:
    * write merged output to `<dir>__tmp`, rename the live table aside to
    * `<dir>__old`, rename tmp in, then drop the old copy — the same
    * commit-by-rename idea as the reference's atomic artifact writer
    * (grocery_lib/io_utils.py:66-73). There is no window with no live
    * data: a crash before the tmp→target rename leaves the old table
    * recoverable at `__old`, and a failed write cleans up its tmp. On a
    * real deployment this is a MERGE INTO on a table format
    * (Delta/Iceberg) whose snapshot commit is truly atomic; plain parquet
    * needs the rewrite-and-swap.
    */
  def upsertParquet(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], versionCol: String): Unit =
    replaceParquet(spark, dir) {
      // fold the batch into the table's own partitions, so the file
      // count does not grow by the batch's files on every upsert
      case Some(base) =>
        merge(base, updates, keys, versionCol).coalesce(base.rdd.getNumPartitions.max(1))
      case None => latestPerKey(updates, keys, versionCol)
    }

  /** The swap itself, factored for any merge discipline (last-write-wins
    * upsert here, the SCD2 interval merge in [[graft.ops.Scd2]]):
    * `mergeFn` receives the live table (None on first write) and
    * returns the replacement.
    */
  def replaceParquet(spark: SparkSession, dir: String)
      (mergeFn: Option[DataFrame] => DataFrame): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir)
    val tmp = new Path(dir + "__tmp")
    val old = new Path(dir + "__old")
    // crash recovery: a previous run that died between its two renames
    // leaves the live table at __old and no target — restore it FIRST,
    // or this run would both merge against nothing and delete the only
    // surviving copy below
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new RuntimeException(s"recovery failed: $old -> $target")
    val merged = mergeFn(
      if (fs.exists(target)) Some(spark.read.parquet(dir)) else None)
    try merged.write.mode("overwrite").parquet(tmp.toString)
    catch {
      case e: Throwable =>
        if (fs.exists(tmp)) fs.delete(tmp, true)
        throw e
    }
    if (fs.exists(old)) fs.delete(old, true)
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, old))
      throw new RuntimeException(s"swap failed: $target -> $old")
    if (!fs.rename(tmp, target)) {
      // restore the previous table before surfacing the failure
      if (hadTarget) fs.rename(old, target)
      throw new RuntimeException(s"swap failed: $tmp -> $target")
    }
    if (hadTarget) fs.delete(old, true)
  }
}
