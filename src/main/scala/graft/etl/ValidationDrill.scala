package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Perf/scale drill (reference: validation_perf_scale_dag.py:37-86):
  * a fan-out of N parallel tasks joins into one (C5), a
  * large-but-deterministic artifact is committed atomically, then a
  * deterministic failure that NAMES the artifact path fires — so failure
  * evidence must reference the artifact.
  *
  * The fan-out/fan-in is real concurrency against one SparkSession:
  * Spark schedules jobs submitted from concurrent driver threads (FIFO
  * scheduler), the same shape Airflow's LocalExecutor gives the
  * reference's six parallel PythonOperators (:83-85).
  */
object ValidationDrill {

  final case class DrillError(artifactPath: String)
    extends RuntimeException(
      "Performance/scale drill: processing budget exceeded while handling " +
        s"artifact=$artifactPath")

  def artifactPath(base: String, runId: String): String =
    s"$base/validation_scale_runs/${RunPaths.fileName(runId)}/artifacts/large_payload.json"

  /** One fanout task (fanout_task, :20-25): a tiny Spark job, returning
    * the reference's `ok:i` payload over the DAG's XCom channel.
    */
  def fanoutTask(spark: SparkSession, i: Int): String = {
    require(spark.range(100).count() == 100)
    s"ok:$i"
  }

  /** C5 fan-out/fan-in: `tasks` fanout tasks run concurrently; their
    * results JOIN (Future.sequence) before the next stage may start —
    * the `for t in fanouts: t >> gen` DAG edge (:83-85).
    */
  def fanOutFanIn(spark: SparkSession, tasks: Int)(
      implicit ec: ExecutionContext): Seq[String] = {
    val fs = (0 until tasks).map(i => Future(fanoutTask(spark, i)))
    Await.result(Future.sequence(fs), Duration.Inf)
  }

  /** generate_large_artifact (:28-46): a 5k-row deterministic JSON doc,
    * built distributed, committed with the atomic tmp+rename protocol.
    * Driver-side single file by design — it mirrors the reference's
    * large-artifact stress artifact, not a dataset.
    */
  def generateLargeArtifact(spark: SparkSession, base: String, runId: String,
      rows: Int = 5000): String = {
    val path = artifactPath(base, runId)
    Files.createDirectories(Paths.get(path).getParent)
    val rowJson = spark.range(rows)
      .select(col("id"),
        concat(lit("{\"id\": "), col("id"),
          lit(", \"value\": \"" + "x" * 64 + "\"}")).as("j"))
      .orderBy("id").select("j").collect().map(_.getString(0)).mkString(", ")
    val body = s"""{"schema_version": 1, "rows": [$rowJson]}"""
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    path
  }

  /** aggregate_and_fail (:49-56): deterministic failure referencing the
    * artifact path.
    */
  def aggregateAndFail(path: String): Nothing = throw DrillError(path)

  /** The whole drill: fanout × N ⇒ join ⇒ artifact ⇒ deterministic
    * failure, with a failure event emitted like every pipeline stage
    * (K8). Always throws [[DrillError]].
    */
  def run(spark: SparkSession, base: String, runId: String,
      tasks: Int = 6, rows: Int = 5000)(
      implicit ec: ExecutionContext): Nothing = {
    val oks = fanOutFanIn(spark, tasks)
    require(oks == (0 until tasks).map(i => s"ok:$i"),
      s"fan-in saw unexpected results: $oks")
    val path = generateLargeArtifact(spark, base, runId, rows)
    try aggregateAndFail(path)
    catch {
      case e: DrillError =>
        FailureNotifier.notify(base, "validation_perf_scale", runId,
          "aggregate_and_fail", 1, e)
        throw e
    }
  }
}
