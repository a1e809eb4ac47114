package graft.etl

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

/** The local filesystem under the scheme `crashfs`, which can simulate a
  * crash at the k-th mutating call (create, rename, delete, or a mkdirs
  * that creates) under an armed directory: from that call on, every
  * mutating call under the directory throws, as if the process writing
  * there had died and left the disk as it was; its killed tasks can
  * change nothing more. Each armed directory counts its own calls, so
  * crashes under different directories can run at once. Mutating calls
  * run one at a time, so tasks racing to create one directory count it
  * once and the count of a clean run repeats.
  */
class CrashingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = CrashingFileSystem.Uri

  private def mutating[T](p: Path)(f: => T): T = CrashingFileSystem.synchronized {
    CrashingFileSystem.step(p.toUri.getPath)
    f
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = mutating(src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = mutating(p)(super.delete(p, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    CrashingFileSystem.synchronized {
      if (exists(f)) super.mkdirs(f, permission) else mutating(f)(super.mkdirs(f, permission))
    }
  override def mkdirs(f: Path): Boolean = CrashingFileSystem.synchronized {
    if (exists(f)) super.mkdirs(f) else mutating(f)(super.mkdirs(f))
  }
}

object CrashingFileSystem {
  val Uri: URI = URI.create("crashfs:///")
  /** Armed directory → (crash at call k, or 0 to count only; calls so far). */
  private val armed = scala.collection.mutable.Map.empty[String, Array[Int]]
  private val dead = scala.collection.mutable.Set.empty[String]

  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set("fs.crashfs.impl", classOf[CrashingFileSystem].getName)
    conf.setBoolean("fs.crashfs.impl.disable.cache", true)
  }

  /** Count the mutating calls under `dir` from now on; crash at call `k`
    * when k > 0.
    */
  def arm(k: Int, dir: JPath): Unit = synchronized { armed(dir.toString + "/") = Array(k, 0) }

  /** Stop counting under `dir`; returns the mutating calls counted there
    * since [[arm]].
    */
  def disarm(dir: JPath): Int = synchronized {
    armed.remove(dir.toString + "/").fold(0)(_(1))
  }

  private def step(path: String): Unit = synchronized {
    def crash(root: String) = throw new java.io.IOException(s"simulated crash under $root")
    dead.find(path.startsWith).foreach(crash)
    armed.find { case (root, _) => path.startsWith(root) }.foreach { case (root, st) =>
      st(1) += 1
      if (st(0) > 0 && st(1) >= st(0)) { dead += root; crash(root) }
    }
  }
}

/** Crash-point enumeration of [[Upsert.upsertParquet]]: for each of four
  * upsert shapes (a first write, a one-bucket merge, a one-run append, a
  * merge over several buckets), count the mutating filesystem calls of a
  * clean run, then for every k crash at call k, run the next upsert (which
  * recovers), and read.
  * The table must then equal the state before or the state after the
  * crashed upsert, with the next batch applied on top: never a mix, never
  * rows lost, and no hidden leftover.
  */
class UpsertCrashSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val keys = Seq("run_id", "txn_id")
  CrashingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(runId: String): Int = Upsert.bucketOf(runId)

  /** Four run_ids in four different buckets. */
  private lazy val Seq(ra, rb, rc, rd) = Iterator.from(0).map(i => s"run-$i")
    .scanLeft(Map.empty[Int, String])((m, r) => m.updatedWith(bucketOf(r))(_.orElse(Some(r))))
    .find(_.size == 4).get.values.toSeq

  private def rows(runId: String, txns: Range, value: Long, v: Long): DataFrame =
    txns.map(t => (runId, s"t$t", value + t, v)).toDF("run_id", "txn_id", "revenue_cents", "v")

  private def copyTree(from: JPath, to: JPath): Unit = {
    if (Files.exists(from)) {
      val walk = Files.walk(from)
      try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
      finally walk.close()
    }
  }

  private val schema = rows("r", 0 until 1, 0, 0).schema

  private def snapshot(dir: JPath): Set[Row] =
    if (!Files.exists(dir)) Set.empty
    else spark.read.schema(schema).parquet(dir.toString).collect().toSet

  /** Tmp and old copies left at either level: the table's siblings and
    * its hidden entries.
    */
  private def leftovers(dir: JPath): Seq[String] = {
    val siblings = Seq("__tmp", "__old").map(s => dir.resolveSibling(dir.getFileName.toString + s))
      .filter(Files.exists(_)).map(_.toString)
    val hidden = if (!Files.exists(dir)) Nil else {
      val list = Files.list(dir)
      try list.toArray.map(_.asInstanceOf[JPath].getFileName.toString)
        .filter(_.startsWith(s".${Upsert.BucketCol}=")).toSeq
      finally list.close()
    }
    siblings ++ hidden
  }

  /** A batch and, when it holds one run, that run_id. */
  private type Batch = (DataFrame, Option[String])
  private def one(runId: String, txns: Range, value: Long, v: Long): Batch =
    (rows(runId, txns, value, v), Some(runId))
  private def many(parts: Batch*): Batch = (parts.map(_._1).reduce(_ union _), None)

  private def upsert(dir: JPath, batch: Batch, crashfs: Boolean = false): Unit =
    Upsert.upsertParquet(spark, (if (crashfs) s"crashfs://$dir" else dir.toString),
      batch._1, keys, "v", firstKey = batch._2)

  /** Enumerate every crash point of `upsert(batch)` on the table built by
    * `seed`, recovering with `next`. The crashed upsert writes through
    * `crashfs`, the recovering one through the plain local filesystem.
    * Each crash point has its own copy of the table, so a few run at once.
    */
  private def enumerate(seed: Seq[Batch], batch: Batch, next: Batch): Unit = {
    val root = Files.createTempDirectory("upsert-crash")
    val before = root.resolve("before/fct")
    Files.createDirectories(before.getParent)
    seed.foreach(upsert(before, _))
    def copyOf(src: JPath, name: String): JPath = {
      val dir = root.resolve(s"$name/fct")
      Files.createDirectories(dir.getParent)
      copyTree(src, dir)
      dir
    }
    val after = copyOf(before, "after")
    CrashingFileSystem.arm(0, after.getParent)
    upsert(after, batch, crashfs = true)
    val calls = CrashingFileSystem.disarm(after.getParent)
    assert(calls > 0, "the clean upsert made no mutating call")
    info(s"$calls mutating calls, each a crash point")
    val expected = Seq(before, after).map { d =>
      val dir = copyOf(d, s"next-${d.getParent.getFileName}")
      upsert(dir, next)
      snapshot(dir)
    }
    assert(expected(0) != expected(1), "the crashed batch must change the table")
    def check(k: Int): Unit = {
      val dir = copyOf(before, s"crash-$k")
      CrashingFileSystem.arm(k, dir.getParent)
      val crashed = try { upsert(dir, batch, crashfs = true); false }
      catch { case _: Exception => true }
      finally CrashingFileSystem.disarm(dir.getParent)
      assert(crashed, s"crash point $k of $calls: the upsert did not crash")
      upsert(dir, next)
      val got = snapshot(dir)
      assert(got == expected(0) || got == expected(1),
        s"crash point $k of $calls: ${got.size} rows, neither the state before " +
          s"(${expected(0).size}) nor after (${expected(1).size})")
      assert(leftovers(dir).isEmpty, s"crash point $k of $calls: leftovers ${leftovers(dir)}")
    }
    // each crash fails a Spark job; its task failures would log a stack
    // trace apiece
    spark.sparkContext.setLogLevel("OFF")
    val pool = ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(3))
    try (1 to calls).map(k => Future(check(k))(pool)).foreach(Await.result(_, Duration.Inf))
    finally {
      pool.shutdownNow()
      spark.sparkContext.setLogLevel("WARN")
    }
  }

  private def seeded = Seq(many(one(ra, 0 until 3, 100, 1), one(rb, 0 until 3, 200, 1),
    one(rc, 0 until 2, 300, 1)))

  test("crash at every mutating call of a first write, then recover") {
    enumerate(Nil, many(one(ra, 0 until 3, 100, 1), one(rb, 0 until 3, 200, 1)),
      next = one(rc, 0 until 2, 300, 1))
  }

  test("crash at every mutating call of a one-bucket merge, then recover") {
    enumerate(seeded, one(ra, 1 until 5, 900, 2), next = one(rb, 2 until 4, 500, 3))
  }

  test("crash at every mutating call of a one-run append, then recover") {
    // a run in ra's bucket that the seeded table does not hold
    val fresh = Iterator.from(0).map(i => s"fresh-$i").find(bucketOf(_) == bucketOf(ra)).get
    enumerate(seeded, one(fresh, 0 until 3, 700, 2), next = one(rb, 2 until 4, 500, 3))
  }

  test("crash at every mutating call of a multi-bucket merge, then recover") {
    enumerate(seeded, many(one(ra, 1 until 5, 900, 2), one(rd, 0 until 2, 400, 2)),
      next = one(rb, 2 until 4, 500, 3))
  }
}
