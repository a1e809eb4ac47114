package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.lit

import graft.testkit.SparkSpec

class UpsertSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def base = Seq(
    ("r1", "t1", 100L, 1L), ("r1", "t2", 200L, 1L), ("r1", "t3", 300L, 1L)
  ).toDF("run_id", "txn_id", "revenue_cents", "v")

  private def updates = Seq(
    ("r1", "t2", 999L, 2L), ("r1", "t4", 400L, 2L)
  ).toDF("run_id", "txn_id", "revenue_cents", "v")

  private val keys = Seq("run_id", "txn_id")

  /** The table's rows without its bucket column. */
  private def read(dir: String): Set[(String, String, Long, Long)] =
    spark.read.parquet(dir).drop(Upsert.BucketCol).as[(String, String, Long, Long)].collect().toSet

  test("merge: updates win on conflicting keys, inserts otherwise") {
    val out = Upsert.merge(base, updates, keys, "v")
      .as[(String, String, Long, Long)].collect().toSet
    assert(out == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L)))
  }

  test("merge is idempotent: applying the same batch twice ≡ once") {
    val once = Upsert.merge(base, updates, keys, "v")
    val twice = Upsert.merge(once, updates, keys, "v")
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("merge keeps exactly one row per key (ScalaCheck over random batches)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genRows = Gen.listOfN(30, for {
      k <- Gen.choose(0, 9)
      value <- Gen.choose(0L, 1000L)
      v <- Gen.choose(1L, 5L)
    } yield ("r", s"t$k", value, v))
    (1 to 10).foreach { i =>
      val rows = genRows.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val df = rows.toDF("run_id", "txn_id", "revenue_cents", "v")
      val merged = Upsert.merge(base, df, keys, "v")
      val dupKeys = merged.groupBy("run_id", "txn_id").count().filter("count > 1")
      assert(dupKeys.isEmpty, s"seed $i produced duplicate keys")
    }
  }

  test("upsertParquet: create, then merge-with-swap; reapplying is stable") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v")
    assert(spark.read.parquet(dir).count() == 3)
    Upsert.upsertParquet(spark, dir, updates, keys, "v")
    val after = read(dir)
    assert(after == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L)))
    Upsert.upsertParquet(spark, dir, updates, keys, "v") // idempotent re-apply
    val again = read(dir)
    assert(again == after)
  }

  test("upsertParquet recovers a table stranded at __old by a mid-swap crash") {
    val root = Files.createTempDirectory("upsert").toString
    val dir = s"$root/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v")
    // simulate a crash between the two renames: live data at __old only
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    // the next upsert must restore the history and merge against it —
    // NOT treat the table as empty and delete the only surviving copy
    Upsert.upsertParquet(spark, dir, updates, keys, "v")
    val after = read(dir)
    assert(after == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L)))
  }

  test("merge keeps the table's column order") {
    assert(Upsert.merge(base, updates, keys, "v").columns.toSeq == base.columns.toSeq)
    val reordered = updates.select("v", "revenue_cents", "txn_id", "run_id")
    assert(Upsert.merge(base, reordered, keys, "v").columns.toSeq == base.columns.toSeq)
  }

  test("upsertParquet deduplicates a first batch too: the greatest version wins") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val first = Seq(("r1", "t1", 100L, 1L), ("r1", "t1", 111L, 3L), ("r1", "t1", 105L, 2L),
      ("r1", "t2", 200L, 1L)).toDF("run_id", "txn_id", "revenue_cents", "v")
    Upsert.upsertParquet(spark, dir, first, keys, "v")
    val expected = Set(("r1", "t1", 111L, 3L), ("r1", "t2", 200L, 1L))
    assert(read(dir) == expected)
    // the anti-join merge relies on a unique table: nothing resurfaces
    Upsert.upsertParquet(spark, dir, Seq(("r1", "t3", 300L, 1L))
      .toDF("run_id", "txn_id", "revenue_cents", "v"), keys, "v")
    assert(read(dir) == expected + (("r1", "t3", 300L, 1L)))
  }

  test("30 small upserts keep the file count bounded and the column order") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v")
    def files(suffix: String) = new java.io.File(dir).list().count(_.endsWith(suffix))
    def perBucket = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
      .map(b => b.getName -> b.list().count(_.endsWith(".parquet"))).toMap
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1), perBucket)
    var model = base.as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    (1 to 30).foreach { i =>
      // one redelivered key, one new key per batch
      val batch = Seq(("r1", s"t${i % 3 + 1}", i * 10L, i + 1L), ("r2", s"n$i", i.toLong, i + 1L))
      Upsert.upsertParquet(spark, dir,
        batch.toDF("run_id", "txn_id", "revenue_cents", "v"), keys, "v")
      model ++= batch.map(r => (r._1, r._2) -> r)
      assert(files(".parquet") == 0, s"upsert $i: parquet files at the table root")
      assert(perBucket.size <= Upsert.Buckets && perBucket.values.forall(_ == 1),
        s"upsert $i: parquet files per bucket $perBucket")
    }
    val table = spark.read.parquet(dir)
    assert(table.columns.toSeq == base.columns.toSeq :+ Upsert.BucketCol)
    assert(read(dir) == model.values.toSet)
  }

  private def bucketOf(runId: String): Int = Upsert.bucketOf(runId)

  /** Each bucket directory's parquet files: name → size. */
  private def bucketFiles(dir: String): Map[String, Map[String, Long]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket=")).map { b =>
      b.getName -> b.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }.toMap

  private def runs(ids: Seq[String], v: Long) =
    ids.flatMap(r => (1 to 3).map(t => (r, s"t$t", t * 10L, v)))
      .toDF("run_id", "txn_id", "revenue_cents", "v")

  test("a one-run upsert rewrites its bucket only: every other bucket's files are unchanged") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val ids = (0 until 40).map(i => s"run-$i")
    Upsert.upsertParquet(spark, dir, runs(ids, 1), keys, "v")
    val before = bucketFiles(dir)
    assert(before.size > 8, before.keySet)
    val batch = Seq(("run-7", "t2", 999L, 2L), ("run-7", "t9", 5L, 2L))
      .toDF("run_id", "txn_id", "revenue_cents", "v")
    Upsert.upsertParquet(spark, dir, batch, keys, "v", firstKey = Some("run-7"))
    val after = bucketFiles(dir)
    val mine = s"__bucket=${bucketOf("run-7")}"
    assert(after - mine == before - mine)
    assert(after(mine).keySet != before(mine).keySet, "the run's bucket was not rewritten")
    assert(new java.io.File(dir).list().forall(!_.startsWith(s".${Upsert.BucketCol}=")))
    assert(read(dir) == runs(ids, 1).as[(String, String, Long, Long)].collect().toSet
      - (("run-7", "t2", 20L, 1L)) + (("run-7", "t2", 999L, 2L)) + (("run-7", "t9", 5L, 2L)))
  }

  test("a batch over several buckets, or with no first key named, takes the whole-table path") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val ids = (0 until 40).map(i => s"run-$i")
    Upsert.upsertParquet(spark, dir, runs(ids, 1), keys, "v")
    val two = ids.map(r => r -> bucketOf(r)).groupBy(_._2).values.map(_.head._1).take(2).toSeq
    def rewritesEveryBucket(batch: org.apache.spark.sql.DataFrame): Unit = {
      val before = bucketFiles(dir)
      Upsert.upsertParquet(spark, dir, batch, keys, "v")
      val after = bucketFiles(dir)
      // every bucket is rewritten, the untouched ones included
      assert(after.keySet == before.keySet)
      after.foreach { case (b, fs) => assert(fs.keySet != before(b).keySet, b) }
    }
    rewritesEveryBucket(runs(two, 2))
    rewritesEveryBucket(runs(two.take(1), 3))
    assert(read(dir) == runs(ids, 1).as[(String, String, Long, Long)].collect().toSet
      .filterNot(r => two.contains(r._1)) ++
      runs(two.tail, 2).as[(String, String, Long, Long)].collect().toSet ++
      runs(two.take(1), 3).as[(String, String, Long, Long)].collect().toSet)
  }

  test("a row outside the named first key's bucket fails the upsert and changes nothing") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val ids = (0 until 40).map(i => s"run-$i")
    Upsert.upsertParquet(spark, dir, runs(ids, 1), keys, "v")
    val before = bucketFiles(dir)
    val other = ids.find(r => bucketOf(r) != bucketOf("run-7")).get
    val e = intercept[Exception] {
      Upsert.upsertParquet(spark, dir, runs(Seq("run-7", other), 2), keys, "v",
        firstKey = Some("run-7"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("outside its bucket")), e)
    assert(bucketFiles(dir) == before)
    assert(new java.io.File(dir).list().forall(!_.startsWith(s".${Upsert.BucketCol}=")))
    assert(read(dir) == runs(ids, 1).as[(String, String, Long, Long)].collect().toSet)
  }

  test("bucketOf on the driver equals the bucket Spark computes") {
    val values: Seq[Any] = Seq("run-0", "run-7", "", "run\"q", 0, 17, -5, 3L, Long.MinValue, null)
    values.foreach { v =>
      assert(Upsert.bucketOf(v) ==
        spark.range(1).select(Upsert.bucket(lit(v))).head().getInt(0), s"value $v")
    }
    // the column's type, not the value's text, decides the hash
    assert(Seq(("7", 7, 7L)).toDF("s", "i", "l")
      .select(Upsert.bucket($"s"), Upsert.bucket($"i"), Upsert.bucket($"l")).head().toSeq ==
      Seq(Upsert.bucketOf("7"), Upsert.bucketOf(7), Upsert.bucketOf(7L)))
  }

  test("an empty first batch leaves an empty readable table; later upserts merge into it") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base.limit(0), keys, "v")
    val empty = spark.read.parquet(dir)
    assert(empty.columns.toSeq == base.columns.toSeq :+ Upsert.BucketCol)
    assert(empty.count() == 0)
    // an empty batch into a new bucket, then rows into it, then rows
    // over several buckets
    Upsert.upsertParquet(spark, dir, base.limit(0), keys, "v", firstKey = Some("r1"))
    assert(spark.read.parquet(dir).count() == 0)
    Upsert.upsertParquet(spark, dir, base, keys, "v", firstKey = Some("r1"))
    assert(read(dir) == base.as[(String, String, Long, Long)].collect().toSet)
    val r2 = Seq(("r2", "t1", 7L, 1L)).toDF("run_id", "txn_id", "revenue_cents", "v")
    Upsert.upsertParquet(spark, dir, updates.unionByName(r2), keys, "v")
    assert(read(dir) == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L), ("r2", "t1", 7L, 1L)))
  }

  test("a batch into a bucket that does not exist yet keeps the table's columns and types") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v", firstKey = Some("r1"))
    val other = (0 until 40).map(i => s"run-$i").find(r => bucketOf(r) != bucketOf("r1")).get
    // an int version widens to the table's long, as on the other paths
    val narrow = Seq((other, "t1", 5L, 9)).toDF("run_id", "txn_id", "revenue_cents", "v")
    Upsert.upsertParquet(spark, dir, narrow, keys, "v", firstKey = Some(other))
    assert(spark.read.parquet(dir).schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(read(dir) == base.as[(String, String, Long, Long)].collect().toSet + ((other, "t1", 5L, 9L)))
    // a column the table lacks is refused, not dropped
    intercept[org.apache.spark.sql.AnalysisException] {
      Upsert.upsertParquet(spark, dir, narrow.withColumn("extra", lit(1)), keys, "v",
        firstKey = Some(other))
    }
    // the same into a bucket that exists, for a run it does not hold: an
    // appended file
    val fresh = (40 until 200).map(i => s"run-$i").find(r => bucketOf(r) == bucketOf(other)).get
    val before = bucketFiles(dir)
    val narrowFresh = Seq((fresh, "t1", 6L, 9)).toDF("run_id", "txn_id", "revenue_cents", "v")
    Upsert.upsertParquet(spark, dir, narrowFresh, keys, "v", firstKey = Some(fresh))
    val mine = s"__bucket=${bucketOf(fresh)}"
    assert(bucketFiles(dir)(mine).size == before(mine).size + 1)
    bucketFiles(dir).foreach { case (b, files) => files.keys.foreach { f =>
      assert(spark.read.parquet(s"$dir/$b/$f").schema("v").dataType ==
        org.apache.spark.sql.types.LongType, s"$b/$f")
    } }
    assert(read(dir) == base.as[(String, String, Long, Long)].collect().toSet +
      ((other, "t1", 5L, 9L)) + ((fresh, "t1", 6L, 9L)))
    intercept[org.apache.spark.sql.AnalysisException] {
      Upsert.upsertParquet(spark, dir, narrowFresh.withColumn("extra", lit(1)), keys, "v",
        firstKey = Some(fresh))
    }
    assert(bucketFiles(dir)(mine).size == before(mine).size + 1)
  }

  /** The footer of a parquet file. */
  private def footer(file: String) = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
    spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(file),
    org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)

  /** Upsert one fresh run into the table at `dir` and check that it
    * appended exactly one parquet file to its bucket: every other file of
    * the table keeps its name and size, and no hidden copy is left.
    * Returns the new file.
    */
  private def assertAppends(dir: String, runId: String, v: Long): String = {
    val before = bucketFiles(dir)
    Upsert.upsertParquet(spark, dir, runs(Seq(runId), v), keys, "v", firstKey = Some(runId))
    val after = bucketFiles(dir)
    val mine = s"__bucket=${bucketOf(runId)}"
    val mineBefore = before.getOrElse(mine, Map.empty)
    assert(after - mine == before - mine)
    val added = after(mine).keySet -- mineBefore.keySet
    assert(added.size == 1 && after(mine).size == mineBefore.size + 1, s"$runId: $mine $after")
    assert(after(mine) -- added == mineBefore)
    assert(new java.io.File(dir).list().forall(!_.startsWith(s".${Upsert.BucketCol}=")))
    s"$dir/$mine/${added.head}"
  }

  test("a fresh run appends one parquet file: every other file keeps its name and size") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val ids = (0 until 40).map(i => s"run-$i")
    Upsert.upsertParquet(spark, dir, runs(ids, 1), keys, "v")
    val existing = bucketFiles(dir).keySet
    val fresh = (40 until 200).map(i => s"run-$i")
      .find(r => existing.contains(s"__bucket=${bucketOf(r)}")).get
    val added = assertAppends(dir, fresh, 2)
    assert(read(dir) == (runs(ids, 1).as[(String, String, Long, Long)].collect() ++
      runs(Seq(fresh), 2).as[(String, String, Long, Long)].collect()).toSet)
    // written as a Spark write task writes it: its codec, its row metadata
    val old = bucketFiles(dir).collectFirst { case (b, fs) if fs.nonEmpty && !added.contains(s"/$b/") =>
      s"$dir/$b/${fs.keys.head}" }.get
    def codec(file: String) = footer(file).getBlocks.get(0).getColumns.get(0).getCodec
    assert(codec(added) == codec(old))
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(footer(added).getFileMetaData.getKeyValueMetaData.containsKey(rowMeta))
    assert(spark.read.parquet(added).schema == spark.read.parquet(old).schema)
    // a redelivery of the appended run rewrites its bucket, folding the file in
    Upsert.upsertParquet(spark, dir, runs(Seq(fresh), 3), keys, "v", firstKey = Some(fresh))
    assert(!bucketFiles(dir)(s"__bucket=${bucketOf(fresh)}").contains(added.split('/').last))
    assert(read(dir) == (runs(ids, 1).as[(String, String, Long, Long)].collect() ++
      runs(Seq(fresh), 3).as[(String, String, Long, Long)].collect()).toSet)
  }

  test("after a redelivery compacts a bucket, a fresh run into it still appends") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val ids = (0 until 40).map(i => s"run-$i")
    Upsert.upsertParquet(spark, dir, runs(ids, 1), keys, "v")
    val (k, members) = ids.groupBy(bucketOf).maxBy(_._2.size)
    assert(members.size >= 3, members)
    Upsert.upsertParquet(spark, dir, runs(members.take(1), 2), keys, "v",
      firstKey = Some(members.head))
    assert(bucketFiles(dir)(s"__bucket=$k").size == 1)
    // an id inside the one file's min and max: its statistics cannot rule
    // the run out, its dictionary can
    val fresh = (40 until 2000).map(i => s"run-$i")
      .find(r => bucketOf(r) == k && r > members.min && r < members.max).get
    assertAppends(dir, fresh, 2)
    assert(read(dir) == (runs(ids, 1).as[(String, String, Long, Long)].collect()
      .filterNot(_._1 == members.head) ++
      runs(Seq(members.head, fresh), 2).as[(String, String, Long, Long)].collect()).toSet)
  }

  test("a bucket of MaxFilesPerBucket files is rewritten by its next load, never grown past it") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, runs(Seq("run-0"), 1), keys, "v")
    val k = bucketOf("run-0")
    val mine = s"__bucket=$k"
    val fresh = Iterator.from(1).map(i => s"run-$i").filter(bucketOf(_) == k)
      .take(Upsert.MaxFilesPerBucket + 2).toSeq
    var rewrites = 0
    fresh.foreach { r =>
      val before = bucketFiles(dir)(mine)
      if (before.size < Upsert.MaxFilesPerBucket) assertAppends(dir, r, 1)
      else {
        Upsert.upsertParquet(spark, dir, runs(Seq(r), 1), keys, "v", firstKey = Some(r))
        assert(bucketFiles(dir)(mine).keySet.intersect(before.keySet).isEmpty, s"$r: not rewritten")
        rewrites += 1
      }
      assert(bucketFiles(dir).values.forall(_.size <= Upsert.MaxFilesPerBucket), bucketFiles(dir))
    }
    assert(rewrites >= 1)
    assert(read(dir) == runs("run-0" +: fresh, 1).as[(String, String, Long, Long)].collect().toSet)
  }

  test("mergeParquet keeps a flat table: an empty first batch, a merge, a re-apply") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    def flat = new java.io.File(dir).list().forall(!_.startsWith(Upsert.BucketCol))
    Upsert.mergeParquet(spark, dir, base.limit(0), keys, "v")
    assert(flat && spark.read.parquet(dir).columns.toSeq == base.columns.toSeq)
    assert(spark.read.parquet(dir).count() == 0)
    Upsert.mergeParquet(spark, dir, base, keys, "v")
    Upsert.mergeParquet(spark, dir, updates, keys, "v")
    val merged = Set(("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L))
    assert(flat && spark.read.parquet(dir).columns.toSeq == base.columns.toSeq)
    assert(read(dir) == merged)
    Upsert.mergeParquet(spark, dir, updates, keys, "v")
    assert(flat && read(dir) == merged)
  }

  test("a user column named __bucket is refused, in the batch or in a flat table") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark, dir, updates.withColumn(Upsert.BucketCol, lit(3)), keys, "v")
    }
    assert(e.getMessage.contains(Upsert.BucketCol))
    assert(!new java.io.File(dir).exists())
    // a flat table, with or without a __bucket column (the layout before
    // buckets, or a plain write), is refused before anything is written
    def refused(table: org.apache.spark.sql.DataFrame): Unit = {
      val dir = Files.createTempDirectory("upsert").toString + "/fct"
      table.write.parquet(dir)
      val files = new java.io.File(dir).list().toSet
      Seq(None, Some("r1")).foreach { firstKey =>
        val e = intercept[IllegalArgumentException] {
          Upsert.upsertParquet(spark, dir, updates, keys, "v", firstKey = firstKey)
        }
        assert(e.getMessage.contains(Upsert.BucketCol))
        assert(new java.io.File(dir).list().toSet == files)
        assert(spark.read.parquet(dir).count() == 3)
      }
    }
    refused(base.withColumn(Upsert.BucketCol, lit(3)))
    refused(base)
  }
}
