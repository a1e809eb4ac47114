package graft.sources

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.testkit.SparkSpec

/** The DSv2 warehouse boundary against embedded Derby: the reference's
  * keyed loader behind `df.write.format("graft-warehouse")` — append +
  * keyed upsert, redelivered-batch idempotence, one transaction per
  * write, and the read-back round-trip through the same connector.
  */
class WarehouseDataSourceSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val url = "jdbc:derby:memory:graftwh;create=true"

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  private def writeTo(df: org.apache.spark.sql.DataFrame, table: String,
      keys: Option[String]): Unit = {
    val w = df.write.format("graft-warehouse")
      .option("url", url).option("dbtable", table)
    keys.foreach(k => w.option("keys", k))
    w.mode("append").save()
  }

  private def readBack(table: String) =
    spark.read.format("graft-warehouse")
      .option("url", url).option("dbtable", table).load()

  test("append write -> connector read round-trips values and nulls") {
    exec("CREATE TABLE wh_append (id BIGINT NOT NULL, name VARCHAR(40), v DOUBLE)")
    val df = Seq((1L, Option("a"), Option(1.5)), (2L, None, None),
      (3L, Option("c"), Option(-2.25))).toDF("id", "name", "v").repartition(3)
    writeTo(df, "wh_append", keys = None)
    val back = readBack("wh_append").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.get(2)))).toMap
    assert(back == Map(
      1L -> (Some("a"), Some(1.5)),
      2L -> (None, None),
      3L -> (Some("c"), Some(-2.25))))
  }

  test("keyed upsert: last write wins, redelivered batch is idempotent") {
    exec("CREATE TABLE wh_fct (run_id VARCHAR(20) NOT NULL, txn_id VARCHAR(20) NOT NULL, v BIGINT)")
    val base = Seq(("r1", "a", 1L), ("r1", "b", 2L), ("r1", "c", 3L))
      .toDF("run_id", "txn_id", "v")
    writeTo(base, "wh_fct", keys = Some("run_id,txn_id"))
    val update = Seq(("r1", "b", 99L), ("r1", "d", 4L))
      .toDF("run_id", "txn_id", "v")
    writeTo(update, "wh_fct", keys = Some("run_id,txn_id"))
    // REDELIVERY: the orchestrator retries the same batch — state converges
    writeTo(update, "wh_fct", keys = Some("run_id,txn_id"))
    writeTo(update, "wh_fct", keys = Some("run_id,txn_id"))
    val out = readBack("wh_fct").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("r1", "a") -> 1L, ("r1", "b") -> 99L,
      ("r1", "c") -> 3L, ("r1", "d") -> 4L))
  }

  test("same-key rows in one write collapse to the last by source order") {
    exec("CREATE TABLE wh_dup (k VARCHAR(10) NOT NULL, v BIGINT)")
    // single partition => well-defined source order; the driver-side
    // commit keeps the last row per key by (partition, position), so the
    // later "a" is the one inserted
    val df = Seq(("a", 1L), ("b", 2L), ("a", 7L)).toDF("k", "v").coalesce(1)
    writeTo(df, "wh_dup", keys = Some("k"))
    val out = readBack("wh_dup").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 7L, "b" -> 2L))
  }

  test("a keyed write past the batch size from one task keeps the last row per key") {
    exec("CREATE TABLE wh_big (k BIGINT NOT NULL, v BIGINT)")
    val batch = WarehouseDataSource.BatchSize.toLong
    val keys = batch + batch / 5
    // 2.5 batches through one writer: two mid-task flushes, every key
    // written twice, and the repeats land in later batches than the
    // rows they replace
    val n = 2 * batch + batch / 2
    val df = (0L until n).map(i => (i % keys, i)).toDF("k", "v").coalesce(1)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1") // one clustered task
    try writeTo(df, "wh_big", keys = Some("k"))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val out = readBack("wh_big").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L until n).groupBy(_ % keys).map { case (k, vs) => k -> vs.max })
  }

  test("a failed task rolls back its whole transaction") {
    exec("CREATE TABLE wh_strict (id BIGINT NOT NULL PRIMARY KEY)")
    exec("INSERT INTO wh_strict VALUES (5)")
    val df = Seq(1L, 2L, 5L).toDF("id").coalesce(1) // 5 violates the PK
    intercept[Exception] {
      writeTo(df, "wh_strict", keys = None)
    }
    // the task's transaction rolled back: 1 and 2 must NOT be there
    assert(readBack("wh_strict").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  /** The physical plan of the write `f` runs, once Spark has reported it. */
  private def writePlan(f: => Unit): SparkPlan = {
    val plan = new AtomicReference[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.collectFirst { case w: V2TableWriteExec => plan.set(w) }
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      eventually(timeout(30.seconds))(assert(plan.get != null))
    } finally spark.listenerManager.unregister(listener)
    plan.get
  }

  /** The Spark jobs `f` starts, counted in a job group of its own. */
  private def jobsIn(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a keyed write: no exchange, last row by (partition, position)") {
    exec("CREATE TABLE wh_k (k VARCHAR(10) NOT NULL, v BIGINT)")
    exec("INSERT INTO wh_k VALUES ('a', 0), ('d', 0)")
    // partition 0: a1 b2 a5; partition 1: a3 c4 c6
    val df = spark.sparkContext.parallelize(
      Seq(("a", 1L), ("b", 2L), ("a", 5L), ("a", 3L), ("c", 4L), ("c", 6L)), 2)
      .toDF("k", "v")
    val plan = writePlan(writeTo(df, "wh_k", keys = Some("k")))
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan.toString)
    val out = readBack("wh_k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 3L, "b" -> 2L, "c" -> 6L, "d" -> 0L))
  }

  test("a keyed write runs exactly one Spark job") {
    exec("CREATE TABLE wh_jobs (k BIGINT NOT NULL, v BIGINT)")
    val df = spark.sparkContext.parallelize((1L to 100L).map(i => (i % 10, i)), 4)
      .toDF("k", "v")
    assert(jobsIn("wh-keyed-write")(writeTo(df, "wh_jobs", keys = Some("k"))) == 1)
    assert(readBack("wh_jobs").count() == 10)
  }

  test("a task that fails after another task finished leaves the table unchanged") {
    exec("CREATE TABLE wh_atomic (k BIGINT NOT NULL, v BIGINT)")
    exec("INSERT INTO wh_atomic VALUES (1, 100), (2, 200)")
    // partition 0 (keys 1-5) finishes first; partition 1 fails on its
    // last row, after a sleep. An append, so no exchange stands between
    // the failing rows and the write tasks
    val df = spark.sparkContext.parallelize(1L to 10L, 2)
      .mapPartitionsWithIndex { (p, it) =>
        it.map { k =>
          if (p == 1 && k == 10L) {
            Thread.sleep(500)
            throw new IllegalStateException("planted task failure")
          }
          (k, k)
        }
      }.toDF("k", "v")
    intercept[Exception](writeTo(df, "wh_atomic", keys = None))
    assert(readBack("wh_atomic").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toSeq.sorted == Seq(1L -> 100L, 2L -> 200L))
  }

  test("a key violation in one partition leaves out every partition's rows") {
    exec("CREATE TABLE wh_strict2 (id BIGINT NOT NULL PRIMARY KEY)")
    exec("INSERT INTO wh_strict2 VALUES (5)")
    // partition 0: 1 2; partition 1: 3 5 (5 violates the PK)
    val df = spark.sparkContext.parallelize(Seq(1L, 2L, 3L, 5L), 2).toDF("id")
    intercept[Exception](writeTo(df, "wh_strict2", keys = None))
    assert(readBack("wh_strict2").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("a keyed write on a BINARY key from two partitions keeps one row per key") {
    exec("CREATE TABLE wh_bin (k VARCHAR(8) FOR BIT DATA NOT NULL, v BIGINT)")
    // partition 0: [1,2]->1 [3]->2; partition 1: [1,2]->3 [3]->4
    val df = spark.sparkContext.parallelize(Seq(
      (Array[Byte](1, 2), 1L), (Array[Byte](3), 2L),
      (Array[Byte](1, 2), 3L), (Array[Byte](3), 4L)), 2).toDF("k", "v")
    writeTo(df, "wh_bin", keys = Some("k"))
    val out = readBack("wh_bin").collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getLong(1))
    assert(out.length == 2)
    assert(out.toMap == Map(Seq[Byte](1, 2) -> 3L, Seq[Byte](3) -> 4L))
  }

  test("connector read prunes columns into the JDBC SELECT") {
    exec("CREATE TABLE wh_prune (a BIGINT NOT NULL, b VARCHAR(10), c DOUBLE)")
    writeTo(Seq((1L, "x", 0.5)).toDF("a", "b", "c"), "wh_prune", keys = None)
    val scan = readBack("wh_prune").select("b")
    val desc = scan.queryExecution.executedPlan.toString
    assert(scan.collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(desc.contains("(B)") || desc.contains("(b)"), desc)
  }

  test("malformed identifiers are refused before any SQL is built") {
    intercept[IllegalArgumentException] {
      writeTo(Seq((1L, 2L)).toDF("k", "v"), "wh; DROP TABLE x", keys = None)
    }
    intercept[IllegalArgumentException] {
      writeTo(Seq((1L, 2L)).toDF("k", "v"), "wh_fct", Some("k; --"))
    }
  }

  test("aggregates push down completely: no Spark-side aggregate node") {
    import org.apache.spark.sql.functions._
    exec("CREATE TABLE wh_agg (grp VARCHAR(10) NOT NULL, qty INT, amt DOUBLE)")
    val df = Seq(("a", 1, 1.5), ("a", 2, 2.5), ("b", 3, 10.0),
      ("b", 4, 20.0), ("b", 5, 30.0)).toDF("grp", "qty", "amt")
    writeTo(df, "wh_agg", keys = None)

    val agg = readBack("wh_agg").groupBy(col("GRP"))
      .agg(count(lit(1)).as("n"), sum(col("QTY")).as("sq"),
        sum(col("AMT")).as("sa"), min(col("QTY")).as("mn"),
        max(col("AMT")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates="), plan)
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown must plan no Spark aggregate:\n$plan")
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getInt(4), r.getDouble(5))).toSet
    assert(got == Set(("a", 2L, 3L, 4.0, 1, 2.5),
      ("b", 3L, 12L, 60.0, 3, 30.0)))
  }

  test("global aggregate (no group-by) pushes down too") {
    import org.apache.spark.sql.functions._
    val agg = readBack("wh_agg").agg(count(lit(1)).as("n"),
      count_distinct(col("GRP")).as("g"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates="), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5L, 2L)))
  }

  test("AVG pushes as its sum/count decomposition with a final project") {
    import org.apache.spark.sql.functions._
    // Spark rewrites AVG into SUM + COUNT before offering the V2
    // aggregation — both translate, so the pushdown is still complete
    // and only a Project (the division) runs Spark-side
    val agg = readBack("wh_agg").groupBy(col("GRP"))
      .agg(avg(col("AMT")).as("a"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates="), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(agg.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("a", 2.0), ("b", 20.0)))
  }

  test("filters push into the warehouse SQL: no Spark-side Filter node") {
    import org.apache.spark.sql.functions._
    val q = readBack("wh_agg").filter(col("QTY") > 2 && col("GRP") === "b")
      .select(col("QTY"))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("PushedFilters=[QTY IS NOT NULL, " +
      "QTY > 2, GRP = 'b']"), plan.toString)
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty, s"fully-pushed predicates must leave no FilterExec:\n$plan")
    assert(q.collect().map(_.getInt(0)).toSet == Set(3, 4, 5))
  }

  test("filter + aggregate push down together into one warehouse query") {
    import org.apache.spark.sql.functions._
    val agg = readBack("wh_agg").filter(col("QTY") >= 2)
      .groupBy(col("GRP")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates="), plan)
    assert(plan.contains("WHERE"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("b", 3L)))
  }

  test("untranslatable filter stays Spark-side and still answers right") {
    import org.apache.spark.sql.functions._
    val q = readBack("wh_agg").filter(col("GRP").endsWith("b"))
      .select(col("QTY"))
    val plan = q.queryExecution.executedPlan
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, "the residual predicate must be re-checked by Spark")
    assert(q.collect().map(_.getInt(0)).toSet == Set(3, 4, 5))
  }

  test("CHAR and REAL predicates refuse pushdown (pad/precision hazards)") {
    import org.apache.spark.sql.functions._
    exec("CREATE TABLE wh_pad (id BIGINT NOT NULL, code CHAR(4), r REAL)")
    writeTo(Seq((1L, "a", 0.1f), (2L, "bb", 2.5f)).toDF("id", "code", "r"),
      "wh_pad", keys = None)
    // CHAR comparison: SQL would blank-pad-match 'a', Spark must not —
    // the predicate stays Spark-side and correctly matches nothing
    val q1 = readBack("wh_pad").filter(col("CODE") === "a")
    assert(q1.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, "CHAR equality must not push")
    assert(q1.count() == 0L)
    assert(readBack("wh_pad").filter(col("CODE") === "a   ").count() == 1L)
    // Float literal: "0.1" parses as a different double than
    // (double)0.1f — must stay Spark-side and still match
    val q2 = readBack("wh_pad").filter(col("R") === 0.1f)
    assert(q2.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, "Float equality must not push")
    assert(q2.count() == 1L)
  }

  test("untranslatable aggregate falls back to a correct row-scan plan") {
    import org.apache.spark.sql.functions._
    // an EXPRESSION input (qty * 2) has no NamedReference — refused, so
    // Spark aggregates over the plain scan and still answers correctly
    val agg = readBack("wh_agg").groupBy(col("GRP"))
      .agg(sum(col("QTY") * 2).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates="), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 6L), ("b", 24L)))
  }
}
