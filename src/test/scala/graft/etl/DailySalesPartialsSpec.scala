package graft.etl

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

/** The mart from per-file partials in parquet footers
  * ([[DailySalesPartials]]): every file [[Upsert]] writes carries them,
  * `Enricher.dailySalesMart` merges them for a bare parquet scan, and
  * the result always equals the scan's aggregate.
  */
class DailySalesPartialsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val keys = Seq("run_id", "txn_id")
  private val stores = Seq("SFO-001", "NYC-014", "AUS-002")

  /** One run's rows, each within a minute of a midnight in `zone`. */
  private def run(runId: String, n: Int, v: Long, zone: String, salt: Int): DataFrame =
    (0 until n).map { i =>
      val h = (runId.hashCode * 31 + i * 17 + salt).abs
      val midnight = LocalDate.of(2024, 3, 1).plusDays(h % 4).atStartOfDay(ZoneId.of(zone))
      val at = Timestamp.from(midnight.toInstant.plusSeconds(h % 121 - 60))
      (runId, s"$runId-t$i", at, stores(h % 3), 1 + h % 5, 100L * (1 + h % 7), v)
    }.toDF("run_id", "txn_id", "event_time", "store_id", "quantity", "revenue_cents", "v")

  /** `dailySalesMart` of `df` equals the scan's aggregate in rows, types
    * and nullability; returns whether it took the footer path.
    */
  private def checkMart(df: DataFrame, clue: => String): Boolean = {
    val mart = Enricher.dailySalesMart(df)
    val scan = Enricher.dailySalesMartByScan(df)
    assert(mart.schema == scan.schema, clue)
    assert(mart.collect().toSet == scan.collect().toSet, clue)
    val footer = mart.queryExecution.analyzed.isInstanceOf[LocalRelation]
    assert(footer == DailySalesPartials.merged(df).isDefined, clue)
    footer
  }

  private def withZone[T](zone: String)(f: => T): T = {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, zone)
    try f finally spark.conf.set(key, prev)
  }

  private def newTable(): String = Files.createTempDirectory("partials").toString + "/fct"

  private def bucketOf(runId: String) = Upsert.bucketOf(runId)

  /** The parquet files of a bucket directory. */
  private def parquetFiles(dir: String, k: Int): Set[String] =
    Option(new java.io.File(s"$dir/${Upsert.BucketCol}=$k").list())
      .fold(Set.empty[String])(_.filter(_.endsWith(".parquet")).toSet)

  test("property: after every one-run upsert (append, redelivery, compaction) the mart " +
      "takes the footer path and equals the scan's aggregate") {
    // fresh runs all land in bucket 0, so it fills past MaxFilesPerBucket
    val pool = Iterator.from(0).map(i => s"run-$i").filter(bucketOf(_) == 0).take(40).toSeq
    val genStep = Gen.frequency(4 -> Gen.const(None), 1 -> Gen.choose(0, 1000).map(Some(_)))
    var kinds = Map.empty[String, Int].withDefaultValue(0)
    Seq("America/Los_Angeles", "Asia/Kolkata").zipWithIndex.foreach { case (zone, s) =>
      val steps = Gen.listOfN(14, genStep).apply(Gen.Parameters.default, Seed(s.toLong)).get
      withZone(zone) {
        val dir = newTable()
        // the first write: several runs at once, through the whole-table path
        Upsert.upsertParquet(spark, dir,
          pool.take(3).map(run(_, 10, 1, zone, s)).reduce(_ unionByName _), keys, "v")
        assert(checkMart(spark.read.parquet(dir), s"$zone seed"))
        var loaded = pool.take(3)
        var fresh = pool.drop(3)
        steps.zipWithIndex.foreach { case (step, i) =>
          val runId = step.fold(fresh.head)(j => loaded(j % loaded.size))
          if (step.isEmpty) { loaded :+= runId; fresh = fresh.tail }
          val before = parquetFiles(dir, 0)
          Upsert.upsertParquet(spark, dir, run(runId, 1 + i % 7, 2L + i, zone, s + i), keys, "v",
            firstKey = Some(runId))
          val after = parquetFiles(dir, 0)
          val kind =
            if (before.subsetOf(after)) "append" else if (step.isEmpty) "compaction" else "redelivery"
          kinds = kinds.updated(kind, kinds(kind) + 1)
          assert(checkMart(spark.read.parquet(dir), s"$zone step $i ($runId)"))
        }
      }
    }
    assert(Seq("append", "compaction", "redelivery").forall(kinds(_) > 0), kinds)
  }

  test("a file added by plain df.write.parquet: the scan") {
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, run("run-1", 20, 1, "UTC", 0), keys, "v")
    assert(checkMart(spark.read.parquet(dir), "upserted"))
    val plain = Files.createTempDirectory("plain").resolve("p")
    run("run-2", 5, 1, "UTC", 0).coalesce(1).write.parquet(plain.toString)
    val part = plain.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(s"$dir/${Upsert.BucketCol}=${bucketOf("run-1")}")
      .toPath.resolve(part.getName))
    val df = spark.read.parquet(dir)
    assert(df.count() == 25)
    assert(!checkMart(df, "plain file"))
  }

  test("a reader in another time zone gets the scan, with days in its own zone") {
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, run("run-1", 30, 1, "UTC", 0), keys, "v")
    assert(checkMart(spark.read.parquet(dir), "UTC"))
    withZone("America/Los_Angeles") {
      val df = spark.read.parquet(dir)
      assert(!checkMart(df, "LA"))
      val zone = ZoneId.of("America/Los_Angeles")
      val expected = df.select("event_time", "store_id").collect()
        .groupBy(r => (r.getTimestamp(0).toInstant.atZone(zone).toLocalDate.toString, r.getString(1)))
        .map { case (k, v) => k -> v.length.toLong }
      val got = Enricher.dailySalesMart(df).collect()
        .map(r => (r.getDate(0).toLocalDate.toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(got == expected)
    }
  }

  test("an operator over the scan gets the scan") {
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, run("run-1", 30, 1, "UTC", 0), keys, "v")
    val df = spark.read.parquet(dir)
    assert(checkMart(df, "bare"))
    assert(!checkMart(df.filter(col("quantity") > 2), "filter"))
    assert(!checkMart(df.select("event_time", "store_id", "revenue_cents", "quantity"), "select"))
  }

  test("a file with a null store_id carries no partials: the scan") {
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, run("run-1", 10, 1, "UTC", 0), keys, "v")
    Upsert.upsertParquet(spark, dir,
      run("run-2", 10, 1, "UTC", 0).withColumn("store_id",
        org.apache.spark.sql.functions.when(col("txn_id") === "run-2-t3", null).otherwise(col("store_id"))),
      keys, "v", firstKey = Some("run-2"))
    val df = spark.read.parquet(dir)
    assert(!checkMart(df, "null store"))
    assert(Enricher.dailySalesMart(df).filter(col("store_id").isNull).count() == 1)
  }

  test("a graft-warehouse relation gets the scan") {
    val url = "jdbc:derby:memory:graftpartials;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("CREATE TABLE fct (run_id VARCHAR(20), txn_id VARCHAR(40), " +
      "event_time TIMESTAMP, store_id VARCHAR(20), quantity INT, revenue_cents BIGINT, v BIGINT)")
    finally c.close()
    run("run-1", 12, 1, "UTC", 0).write.format("graft-warehouse")
      .option("url", url).option("dbtable", "fct").mode("append").save()
    val df = spark.read.format("graft-warehouse").option("url", url).option("dbtable", "fct").load()
    assert(!checkMart(df, "graft-warehouse"))
    assert(Enricher.dailySalesMart(df).agg(org.apache.spark.sql.functions.sum("txns")).head().getLong(0) == 12)
  }

  test("the mart of an upserted warehouse runs no Spark job after the read; the scan runs its own") {
    val sc = spark.sparkContext
    def jobsIn(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, Seq("run-1", "run-2", "run-3").map(run(_, 10, 1, "UTC", 0))
      .reduce(_ unionByName _), keys, "v")
    Upsert.upsertParquet(spark, dir, run("run-4", 10, 1, "UTC", 0), keys, "v", firstKey = Some("run-4"))
    val df = spark.read.parquet(dir)
    assert(jobsIn("partials-mart")(Enricher.dailySalesMart(df).collect()) == 0)
    assert(jobsIn("partials-scan")(Enricher.dailySalesMart(df.filter(col("v") > 0)).collect()) > 0)
  }

  test("a file past MaxGroups groups, or whose sums overflow, carries no partials") {
    val schema = StructType(Seq(StructField("event_time", TimestampType),
      StructField("store_id", StringType), StructField("revenue_cents", LongType),
      StructField("quantity", IntegerType)))
    def row(day: Int, store: String, revenue: Long) =
      InternalRow(day * 86400L * 1000000L, UTF8String.fromString(store), revenue, 1)
    val full = new DailySalesPartials.Gatherer(schema, "UTC")
    (0 until DailySalesPartials.MaxGroups).foreach(d => full.add(row(19000 + d, "SFO-001", 1L)))
    val entry = full.entry.get
    info(s"a footer entry of ${DailySalesPartials.MaxGroups} groups: ${entry.length} bytes")
    assert(DailySalesPartials.parse(entry).get._2.size == DailySalesPartials.MaxGroups)
    full.add(row(18000, "SFO-001", 1L))
    assert(full.entry.isEmpty)
    val overflow = new DailySalesPartials.Gatherer(schema, "UTC")
    overflow.add(row(19000, "SFO-001", Long.MaxValue))
    assert(overflow.entry.nonEmpty)
    overflow.add(row(19000, "SFO-001", 1L))
    assert(overflow.entry.isEmpty)
  }

  test("a table without the mart's columns carries no partials and reads as before") {
    val dir = newTable()
    Upsert.upsertParquet(spark, dir, Seq(("r1", "t1", 1L)).toDF("run_id", "txn_id", "v"), keys, "v")
    val file = new java.io.File(dir).listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .find(_.getName.endsWith(".parquet")).get
    val meta = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    assert(!meta.getFileMetaData.getKeyValueMetaData.containsKey(DailySalesPartials.Key))
    assert(spark.read.parquet(dir).drop(Upsert.BucketCol).as[(String, String, Long)].collect().toSeq ==
      Seq(("r1", "t1", 1L)))
  }
}
