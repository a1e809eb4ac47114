package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

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

  test("insertIfAbsent: existing keys never overwritten (ON CONFLICT DO NOTHING)") {
    val out = Upsert.insertIfAbsent(base, updates, keys)
      .as[(String, String, Long, Long)].collect().toSet
    assert(out == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 200L, 1L), // t2 keeps the OLD value
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L)))
  }

  test("upsertParquet: create, then merge-with-swap; reapplying is stable") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v")
    assert(spark.read.parquet(dir).count() == 3)
    Upsert.upsertParquet(spark, dir, updates, keys, "v")
    val after = spark.read.parquet(dir).as[(String, String, Long, Long)].collect().toSet
    assert(after == Set(
      ("r1", "t1", 100L, 1L), ("r1", "t2", 999L, 2L),
      ("r1", "t3", 300L, 1L), ("r1", "t4", 400L, 2L)))
    Upsert.upsertParquet(spark, dir, updates, keys, "v") // idempotent re-apply
    val again = spark.read.parquet(dir).as[(String, String, Long, Long)].collect().toSet
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
    val after = spark.read.parquet(dir).as[(String, String, Long, Long)].collect().toSet
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
    assert(spark.read.parquet(dir).as[(String, String, Long, Long)].collect().toSet == expected)
    // the anti-join merge relies on a unique table: nothing resurfaces
    Upsert.upsertParquet(spark, dir, Seq(("r1", "t3", 300L, 1L))
      .toDF("run_id", "txn_id", "revenue_cents", "v"), keys, "v")
    assert(spark.read.parquet(dir).as[(String, String, Long, Long)].collect().toSet ==
      expected + (("r1", "t3", 300L, 1L)))
  }

  test("30 small upserts keep the file count bounded and the column order") {
    val dir = Files.createTempDirectory("upsert").toString + "/fct"
    Upsert.upsertParquet(spark, dir, base, keys, "v")
    def files = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    val initial = files
    var model = base.as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    (1 to 30).foreach { i =>
      // one redelivered key, one new key per batch
      val batch = Seq(("r1", s"t${i % 3 + 1}", i * 10L, i + 1L), ("r2", s"n$i", i.toLong, i + 1L))
      Upsert.upsertParquet(spark, dir,
        batch.toDF("run_id", "txn_id", "revenue_cents", "v"), keys, "v")
      model ++= batch.map(r => (r._1, r._2) -> r)
      assert(files <= initial.max(2), s"upsert $i: $files parquet files (started with $initial)")
    }
    val table = spark.read.parquet(dir)
    assert(table.columns.toSeq == base.columns.toSeq)
    assert(table.as[(String, String, Long, Long)].collect().toSet == model.values.toSet)
  }
}
