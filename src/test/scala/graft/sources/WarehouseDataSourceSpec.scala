package graft.sources

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

/** The DSv2 warehouse boundary against embedded Derby: the reference's
  * keyed loader behind `df.write.format("graft-warehouse")` — append +
  * keyed upsert, redelivered-batch idempotence, and the read-back
  * round-trip through the same connector.
  */
class WarehouseDataSourceSpec extends AnyFunSuite with SparkSpec {

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
    // single partition => well-defined source order; the writer must
    // flush between the two same-key rows or both inserts would survive
    // one delete
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

  test("keyed write plans a clustered shuffle; append does not") {
    exec("CREATE TABLE wh_k (k BIGINT NOT NULL, v BIGINT)")
    exec("CREATE TABLE wh_nok (k BIGINT NOT NULL, v BIGINT)")
    val df = (1L to 100L).map(i => (i % 10, i)).toDF("k", "v").repartition(8)
    // RequiresDistributionAndOrdering: Spark inserts the key shuffle for
    // the upsert write, so one key's rows never race across connections
    writeTo(df, "wh_k", keys = Some("k"))
    writeTo(df, "wh_nok", keys = None)
    val keyed = readBack("wh_k").count()
    assert(keyed == 10) // one survivor per key: clustering held per task
    assert(readBack("wh_nok").count() == 100)
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
