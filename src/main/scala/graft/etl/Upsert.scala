package graft.etl

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, SparkFilterApi}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, Literal, Murmur3Hash}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Keyed upsert semantics (reference: grocery_lib/pg.py:33-60 —
  * `INSERT ... ON CONFLICT (run_id, txn_id) DO UPDATE`, executed row-at-a-
  * time).
  *
  * The row-at-a-time loop is deliberately NOT ported: the set-based
  * equivalent deduplicates the batch on the key, drops the table rows
  * whose key the batch carries, and appends the batch. The merge itself
  * never shuffles the table side. The table holds one row per key; every
  * write path here keeps it that way.
  *
  * '''Layout.''' An [[upsertParquet]] table is [[Buckets]] Hive-style
  * directories `<dir>/__bucket=k`, `k = pmod(hash(<first key>), 16)`
  * ([[bucket]]). `spark.read.parquet(dir)` returns the table's columns
  * plus `__bucket` (int); a filter on `__bucket` prunes the scan to one
  * directory. The bucket count stays at or below
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32), so
  * listing the table runs no Spark job. A directory that holds data files
  * but no bucket directory is not such a table: an upsert refuses it
  * before it writes anything. A table that is merged whole on every
  * write (the streaming sinks keyed by query or event id) uses
  * [[mergeParquet]] instead, which keeps it flat.
  *
  * '''Three commit paths.''' A batch whose caller names its one
  * first-key value `R` (a pipeline run: one run_id), into a bucketed
  * table, commits into `R`'s bucket `k` alone. The batch is one run, so it
  * is taken to the driver: its bucket is checked, it is deduplicated
  * there (a tie on the version going to the row later in batch order),
  * and the table's schema comes from one parquet footer. Then it takes
  * one of two paths:
  *  - '''append,''' when no data file of bucket `k` can hold `R` and the
  *    bucket holds fewer than [[MaxFilesPerBucket]] files. Each file's
  *    footer is read on the driver, and parquet's own row-group filter for
  *    `<first key> = R` runs over its statistics and, where they cover
  *    `R`, over its dictionary; a column chunk that is not wholly
  *    dictionary-encoded, or a first key that is not a string, counts as
  *    possibly holding `R`. The batch is written as one parquet file on the driver
  *    by Spark's own parquet writer, staged in the hidden
  *    `.__bucket=k.tmp`, and renamed into `__bucket=k`. That one rename is
  *    the commit point, so a reader sees the table before or after it: an
  *    append has no read window. No Spark job runs;
  *  - '''bucket rewrite,''' otherwise (`R` may be present, as in a
  *    redelivery, or the bucket is full). The batch merges against the
  *    bucket only, whose rows for the batch's keys drop out by a literal
  *    predicate, and `__bucket=k` is swapped ([[swapIn]]) through the
  *    hidden `.__bucket=k.tmp` and `.__bucket=k.old` inside the table
  *    (Spark's listing skips names that start with `.`). So a 40-row load
  *    rewrites 1/16 of the table, and the rewrite compacts the bucket's
  *    appended files. The bucket write is the one Spark job.
  *
  * A missing bucket is swapped in whole on either path. Any other batch
  * (the first write, a batch with no first-key value named) takes the
  * '''whole-table''' path: it merges against the whole table and swaps
  * it through the siblings `<dir>__tmp` and `<dir>__old`. It is
  * deduplicated by [[latestPerKey]], shuffling only the batch, and its
  * keys drop out of the table by a broadcast left-anti join ([[merge]]).
  * The result is shuffled by bucket and written partitioned by
  * `__bucket`; an empty table is one schema-only file in bucket 0, so it
  * stays readable.
  *
  * '''Partials.''' Every file written here (the append, the bucket
  * rewrite, the whole-table write and its schema-only file) is written
  * through [[DailySalesParquetFormat]], so it carries its
  * [[DailySalesPartials]] in its footer and `Enricher.dailySalesMart`
  * answers a bare read of the table from its footers; a table without the
  * mart's columns gets none.
  *
  * '''Recovery''' runs before every upsert, at both levels, with one
  * rule: first for the table, then for each bucket, an old copy whose
  * live copy is missing (a crash between the two renames) is renamed
  * back, and any other leftover tmp or old copy is deleted.
  *
  * '''Read window.''' Between the two renames of a bucket swap, a reader
  * sees the table without that bucket; between those of a table swap, it
  * sees no table; an append has none. A pipeline never reads the
  * warehouse while its load runs. On a real deployment this is a MERGE
  * INTO on a table format (Delta/Iceberg) whose snapshot commit is truly
  * atomic.
  */
object Upsert {

  /** The bucket column of an [[upsertParquet]] table. */
  val BucketCol = "__bucket"

  /** Buckets per table: a constant, since it must stay at or below the
    * parallel partition discovery threshold (see the object doc).
    */
  val Buckets = 16

  /** Data files a bucket may hold: a one-run load appends a file to a
    * bucket that holds fewer, and rewrites (so compacts) one that holds
    * this many. Every file costs the mart ([[Enricher.dailySalesMart]])
    * one footer read, about 0.25 ms: over a 300k-row table (Spark
    * `local[4]`, 4 vCPU, p50 of 15 calls) its footer merge took 30, 39 and
    * 47–64 ms at 16, 64 and 128 files, and its scan 158–206, 224–275 and
    * 223–381 ms.
    */
  val MaxFilesPerBucket = 8

  /** The format of every file written here: parquet, with each file's
    * [[DailySalesPartials]] in its footer.
    */
  private val Format = classOf[DailySalesParquetFormat].getName

  /** The bucket of a first-key value. */
  def bucket(firstKey: Column): Column = pmod(hash(firstKey), lit(Buckets))

  /** One row per key: the greatest `versionCol` wins; a tie has an
    * arbitrary winner (the one-bucket path of [[upsertParquet]] breaks it
    * by batch order instead).
    * The shuffle keeps one partition per core: left to adaptive
    * coalescing, a bulk first batch of a few tens of MB would sort and
    * write in a single task. It hashes on `clusterBy` when given (a
    * prefix of the window's keys, so the window needs no second
    * shuffle), else on the keys.
    */
  def latestPerKey(rows: DataFrame, keys: Seq[String], versionCol: String,
      clusterBy: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((clusterBy ++ keys).map(col): _*).orderBy(col(versionCol).desc)
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
        (if (clusterBy.isEmpty) keys else clusterBy).map(col): _*)
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

  /** Upsert a batch into the parquet table at `dir` (layout, commit
    * paths and recovery: see the object doc). The batch may not carry a
    * column named [[BucketCol]], and `dir`, when it holds data files, must
    * hold them in bucket directories; either is refused with an
    * `IllegalArgumentException` before anything is written.
    *
    * `firstKey` is the one value of `keys.head` that the caller knows
    * every row of the batch carries (a pipeline run's run_id). With it,
    * the batch is collected to the driver and commits into that value's
    * bucket alone, appended as one file when the bucket cannot hold the
    * value yet; a row in another bucket fails the upsert and leaves the
    * table as it was. Without it, the batch takes the whole-table path, so
    * its plan runs once and never passes through the driver.
    */
  def upsertParquet(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], versionCol: String, firstKey: Option[Any] = None): Unit = {
    require(!updates.columns.contains(BucketCol),
      s"upsert batch has a column named $BucketCol, which the table layout reserves")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = new Path(dir)
    recover(fs, table, new Path(dir + "__tmp"), new Path(dir + "__old"))
    if (fs.exists(table)) {
      require(bucketDirs(fs, table).nonEmpty || dataFiles(fs, table).isEmpty,
        s"table $dir holds data files outside any $BucketCol directory")
      (0 until Buckets).foreach { k =>
        val live = bucketDir(table, k)
        recover(fs, live, hidden(live, "tmp"), hidden(live, "old"))
      }
    }
    val buckets = bucketDirs(fs, table)
    firstKey match {
      case Some(value) if buckets.nonEmpty =>
        val k = bucketOf(value)
        val live = bucketDir(table, k)
        val schema = tableSchema(fs, buckets)
        val batch = latestOnDriver(updates, keys, versionCol, value, k)
        val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
        val rows = spark.createDataFrame(batch.asJava, updates.schema)
        val hasLive = fs.exists(live)
        val files = if (hasLive) dataFiles(fs, live) else Nil
        // no file of the bucket can hold the run: append one
        if (files.size < MaxFilesPerBucket && eqFilter(schema, keys.head, value)
            .exists(pred => files.forall(!mayHold(fs.getConf, _, pred))))
          // the table's columns, in its order, with the batch's types widened
          append(spark, fs, live, empty.unionByName(rows))
        else {
          // the bucket's rows for the batch's keys, as a literal predicate
          val batchKeys = batch.map(r => struct(keys.map { c =>
            lit(r.getAs[Any](c)).cast(updates.schema(c).dataType).as(c)
          }: _*))
          swapIn(fs, live, hidden(live, "tmp"), hidden(live, "old")) { tmp =>
            val base = if (hasLive) spark.read.schema(schema).parquet(live.toString) else empty
            base.filter(!struct(keys.map(col): _*).isin(batchKeys: _*))
              .unionByName(rows)
              // fold the batch into the bucket's own partitions, so its file
              // count does not grow by the batch's files on every upsert
              .coalesce(base.rdd.getNumPartitions.max(1))
              .write.format(Format).mode("overwrite").save(tmp.toString)
          }
        }
      case _ => swapIn(fs, table, new Path(dir + "__tmp"), new Path(dir + "__old")) { tmp =>
        val out =
          if (fs.exists(table))
            merge(spark.read.parquet(dir).drop(BucketCol), updates, keys, versionCol)
              .withColumn(BucketCol, bucket(col(keys.head)))
              .repartition(spark.sparkContext.defaultParallelism, col(BucketCol))
          // one window over (bucket, keys) on a shuffle by bucket: its sort
          // already orders the partitioned write, which adds none of its own
          else latestPerKey(updates.withColumn(BucketCol, bucket(col(keys.head))),
            keys, versionCol, clusterBy = Seq(BucketCol))
        out.write.format(Format).partitionBy(BucketCol).mode("overwrite").save(tmp.toString)
        // a partitioned write of no rows leaves no data file, so the table's
        // schema would be lost and every later read would fail
        if (bucketDirs(fs, tmp).isEmpty)
          spark.createDataFrame(java.util.List.of[Row](),
              StructType(out.schema.filterNot(_.name == BucketCol)))
            .write.format(Format).save(bucketDir(tmp, 0).toString)
      }
    }
  }

  /** The bucket of a first-key value, computed on the driver: the value
    * of [[bucket]] over the same value as a literal.
    */
  def bucketOf(firstKey: Any): Int = bucketOf(Literal(firstKey))

  private def bucketOf(value: Literal): Int =
    Math.floorMod(new Murmur3Hash(Seq(value)).eval().asInstanceOf[Int], Buckets)

  /** The directory of bucket `k` of the table at `table`. */
  def bucketDir(table: Path, k: Int): Path = new Path(table, s"$BucketCol=$k")

  /** The bucket directories of the table at `table`; none when it does not
    * exist.
    */
  def bucketDirs(fs: FileSystem, table: Path): Seq[Path] =
    if (!fs.exists(table)) Nil
    else fs.listStatus(table).toSeq.map(_.getPath).filter(_.getName.startsWith(BucketCol + "="))

  /** A one-bucket batch, taken to the driver: every row must fall in
    * bucket `k`, and each key keeps one row, the greatest `versionCol`
    * with a tie going to the row later in batch order (the last of a
    * row-at-a-time ON CONFLICT DO UPDATE). Versions compare in Spark's
    * own ascending order, nulls first.
    */
  private def latestOnDriver(updates: DataFrame, keys: Seq[String], versionCol: String,
      firstKey: Any, k: Int): Seq[Row] = {
    val schema = updates.schema
    val first = schema.fieldIndex(keys.head)
    val firstType = schema(first).dataType
    val keyAt = keys.map(schema.fieldIndex)
    val v = schema.fieldIndex(versionCol)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema(v).dataType)
    val order = InterpretedOrdering.forSchema(Seq(schema(v).dataType))
    def version(r: Row) = InternalRow(toCatalyst(r.get(v)))
    val latest = mutable.LinkedHashMap.empty[Seq[Any], Row]
    updates.collect().foreach { r =>
      if (bucketOf(Literal.create(r.get(first), firstType)) != k) throw new IllegalArgumentException(
        s"upsert batch for ${keys.head} = $firstKey has a row outside its bucket $k")
      val key = keyAt.map(r.get)
      if (latest.get(key).forall(prev => order.compare(version(prev), version(r)) <= 0))
        latest(key) = r
    }
    latest.values.toSeq
  }

  /** The data files of a table directory: what Spark's listing reads. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { f =>
      f.isFile && !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")
    }

  /** A parquet file's footer, read on the driver without opening a reader. */
  private[etl] def footer(conf: Configuration, file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The table's columns, without [[BucketCol]], from the footer of the
    * first parquet file found in `buckets`, read on the driver:
    * `spark.read.parquet(dir).schema` would run an inference job. A file
    * Spark wrote carries its schema under Spark's row-metadata key; any
    * other is converted from its parquet schema. The columns are
    * nullable, as a parquet read gives them.
    */
  private def tableSchema(fs: FileSystem, buckets: Seq[Path]): StructType = {
    val file = buckets.iterator.flatMap(dataFiles(fs, _)).nextOption()
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet file under ${buckets.mkString(", ")}"))
    val meta = footer(fs.getConf, file).getFileMetaData
    val schema = Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter().convert(meta.getSchema))
    StructType(schema.map(_.copy(nullable = true)))
  }

  /** `name = value` as a parquet predicate, for a top-level string column
    * of `schema` (a run_id); None for any other key, which no file can
    * then rule out.
    */
  private def eqFilter(schema: StructType, name: String, value: Any): Option[FilterPredicate] =
    (schema.find(_.name == name).map(_.dataType), value) match {
      case (Some(StringType), s: String) =>
        Some(FilterApi.eq(SparkFilterApi.binaryColumn(Array(name)), Binary.fromString(s)))
      case _ => None
    }

  /** Whether the parquet file may hold a row that `pred` keeps, by
    * parquet-mr's own row-group filter: at the statistics level over the
    * footer, then, only for a file whose statistics cover the value, at
    * the dictionary level, which opens a reader. A column chunk that is
    * not wholly dictionary-encoded cannot be ruled out there.
    */
  private def mayHold(conf: Configuration, file: FileStatus, pred: FilterPredicate): Boolean = {
    val meta = footer(conf, file)
    meta.getBlocks.asScala.exists(b => !StatisticsFilter.canDrop(pred, b.getColumns)) && {
      val in = HadoopInputFile.fromStatus(file, conf)
      // over the session's configuration: a plain builder loads a new one,
      // about 8 ms a file
      val options = HadoopReadOptions.builder(conf).withRecordFilter(FilterCompat.get(pred))
        .useDictionaryFilter(true).useBloomFilter(false).build()
      val reader = ParquetFileReader.open(in, meta, options, in.newStream())
      try !reader.getRowGroups.isEmpty finally reader.close()
    }
  }

  /** Add `rows` to the bucket directory `live` as one new parquet file,
    * written on the driver and staged under the bucket's hidden tmp copy.
    * Its rename into the bucket is the commit point; a crash before it
    * leaves only the tmp copy, which the next [[recover]] deletes. A
    * missing bucket is swapped in whole.
    */
  private def append(spark: SparkSession, fs: FileSystem, live: Path, rows: DataFrame): Unit = {
    val tmp = hidden(live, "tmp")
    if (!fs.exists(live)) swapIn(fs, live, tmp, hidden(live, "old"))(writeOnDriver(spark, _, rows))
    else {
      val staged = staging(fs, tmp)(writeOnDriver(spark, tmp, rows))
      if (!fs.rename(staged, new Path(live, staged.getName)))
        throw new RuntimeException(s"append failed: $staged -> $live")
      fs.delete(tmp, true)
    }
  }

  /** Write `rows`, a plan over a local relation, as one parquet file under
    * `dir`, on the driver: the plan's rows come from `executeCollect`,
    * which runs no job for a local relation, and the file is written by
    * the writer every write task here runs ([[DailySalesParquetFormat]]'s),
    * so it has the same encoding, codec, timestamp type, row metadata and
    * partials. The name is unique per call. Returns the file.
    */
  private def writeOnDriver(spark: SparkSession, dir: Path, rows: DataFrame): Path = {
    val data = rows.queryExecution.executedPlan.executeCollect()
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new DailySalesParquetFormat().prepareWrite(spark, job, Map.empty, rows.schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, rows.schema, context)
    try data.foreach(writer.write)
    finally writer.close()
    file
  }

  /** A bucket's hidden tmp or old copy, inside the table. */
  private def hidden(live: Path, suffix: String) =
    new Path(live.getParent, s".${live.getName}.$suffix")

  /** Replace a flat parquet directory with a rename swap: write the
    * replacement to `<dir>__tmp`, rename the live copy aside to
    * `<dir>__old`, rename tmp in, then drop the old copy — the same
    * commit-by-rename idea as the reference's atomic artifact writer
    * (grocery_lib/io_utils.py:66-73). Factored for any merge discipline
    * (the SCD2 interval merge in [[graft.ops.Scd2]], the streaming
    * sinks): `mergeFn` receives the live table (None on first write) and
    * returns the replacement.
    */
  def replaceParquet(spark: SparkSession, dir: String)
      (mergeFn: Option[DataFrame] => DataFrame): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = new Path(dir)
    recover(fs, table, new Path(dir + "__tmp"), new Path(dir + "__old"))
    swapIn(fs, table, new Path(dir + "__tmp"), new Path(dir + "__old")) { tmp =>
      mergeFn(if (fs.exists(table)) Some(spark.read.parquet(dir)) else None)
        .write.format(Format).mode("overwrite").save(tmp.toString)
    }
  }

  /** A keyed last-write-wins upsert into the flat parquet table at `dir`,
    * merged whole on every write ([[merge]]) and swapped by
    * [[replaceParquet]]; the first write is the batch deduplicated by
    * [[latestPerKey]]. It suits a table whose batches span many keys, such
    * as a streaming sink keyed by query or event id, which
    * [[upsertParquet]]'s buckets would only add a shuffle and 16 files to.
    */
  def mergeParquet(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], versionCol: String): Unit =
    replaceParquet(spark, dir) {
      // fold the batch into the table's own partitions, so the file count
      // does not grow by the batch's files on every upsert
      case Some(prev) =>
        merge(prev, updates, keys, versionCol).coalesce(prev.rdd.getNumPartitions.max(1))
      case None => latestPerKey(updates, keys, versionCol)
    }

  /** Crash recovery for one swap: a swap that died between its two
    * renames leaves the live copy at `old` and none at `live`. Restore it
    * FIRST, or the next swap would both merge against nothing and delete
    * the only surviving copy; then delete whatever tmp or old copy is left.
    */
  private[graft] def recover(fs: FileSystem, live: Path, tmp: Path, old: Path): Unit = {
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new RuntimeException(s"recovery failed: $old -> $live")
    Seq(tmp, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  /** The swap commit, run after [[recover]]: `write(tmp)`,
    * rename `live` aside to `old`, rename `tmp` to `live`, drop `old`. A
    * failed write deletes its tmp; a crash between the renames leaves
    * `old` for the next [[recover]]. Returns what `write` returned.
    */
  private[graft] def swapIn[T](fs: FileSystem, live: Path, tmp: Path, old: Path)
      (write: Path => T): T = {
    val result = staging(fs, tmp)(write(tmp))
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old))
      throw new RuntimeException(s"swap failed: $live -> $old")
    if (!fs.rename(tmp, live)) {
      // restore the previous copy before surfacing the failure
      if (hadLive) fs.rename(old, live)
      throw new RuntimeException(s"swap failed: $tmp -> $live")
    }
    if (hadLive) fs.delete(old, true)
    result
  }

  /** Run `write`, which writes under `tmp`; if it fails, delete `tmp`. */
  private def staging[T](fs: FileSystem, tmp: Path)(write: => T): T =
    try write
    catch {
      case e: Throwable =>
        if (fs.exists(tmp)) fs.delete(tmp, true)
        throw e
    }
}
