package etlbench

import java.io.PrintStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.EtlBenchAccess
import org.apache.spark.sql.SparkSession

/** The ETL benchmark's entry point.
  *
  * {{{
  *   etlbench.Main --workload small_runs --seed 1 --seconds 20 --trace 0 --work <dir>
  * }}}
  *
  * `--trace 0`: set the workload up [[SetupReps]] times (the median is
  * `setup_s`), then run its seeded schedule as a closed loop, one operation
  * at a time, until the operations have taken `--seconds`; print the
  * end-to-end metrics. `--trace 1`: run the first [[tracedOps]] operations
  * untraced, again traced (spans + per-layer counters), and again on a
  * one-thread Spark; print the per-layer metrics. Either way the program's
  * outputs are compared with the oracle after every pass; the last stdout
  * line is the JSON result, and any mismatch exits 1. [[run]] can also
  * plant one fault in a checked output (see [[Workload.plant]]), which the
  * oracle self-test uses to prove the check fails.
  */
object Main {
  val SetupReps = 3
  /** Spark worker threads. Two, not one per core: on a four-core host the
    * JIT, the collector, the mock API and Derby need cores too, and with four
    * concurrent Derby writers a descheduled lock holder stalls the rest.
    */
  val Threads: Int = math.min(2, Runtime.getRuntime.availableProcessors)
  /** The tail percentile. At 20 s a pass completes about 7 small_runs
    * or 30 warehouse_jdbc operations, too few to put 10 beyond a tail
    * percentile; p75 is the highest those counts estimate steadily.
    */
  val TailPct = 0.75

  def tracedOps(workload: String): Int = if (workload == "small_runs") 8 else 20
  /** Operations repeated on a one-thread session for `spark.speedup_vs_1thread`. */
  val OneThreadOps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, plant: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(m.getOrElse("work", "etlbench-work")).toAbsolutePath, None)
    require(Workloads.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.Names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(args: Array[String]): Unit = System.exit(run(parse(args), System.out))

  def session(threads: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$threads]").appName("etlbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Pass(ops: Seq[Op], problems: Seq[String], checksum: String = "") {
    def wallS: Double = ops.map(_.wallS).sum
  }

  /** Run operations `from`, `from + 1`, ... until `stop(count, busy
    * seconds)` says so; then check outputs.
    */
  def pass(w: Workload, from: Int = 0)(stop: (Int, Double) => Boolean): Pass = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var busy = 0.0
    while (!stop(ops.size, busy)) {
      val op = w.op(from + ops.size)
      ops += op
      busy += op.wallS
    }
    Pass(ops.toSeq, ops.filterNot(_.ok).map(_.detail).toSeq ++ w.check())
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def run(a: Args, out: PrintStream): Int = {
    Workloads.deleteTree(a.work)
    Files.createDirectories(a.work)
    System.setProperty("derby.stream.error.file", a.work.resolve("derby.log").toString)
    val api = new PosApi
    try {
      val (passes, metrics) = if (a.trace) traced(a, api) else untraced(a, api)
      val problems = passes.flatMap(_._2.problems)
      val ops = passes.flatMap(_._2.ops)
      passes.foreach { case (label, p) =>
        out.println(s"pass $label: ${p.ops.size} ops, inputs sha256 ${p.checksum}, " +
          s"${p.problems.size} mismatch(es); op walls (s): " +
          p.ops.map(o => f"${o.wallS}%.2f").mkString(" "))
      }
      problems.take(20).foreach(p => out.println(s"MISMATCH $p"))
      val json = metrics.map { case (k, (v, unit)) =>
        s""""$k": {"value": $v, "unit": "$unit"}"""
      }.mkString(", ")
      out.println(s"""{"correct": ${problems.isEmpty}, "attempted": ${ops.size}, """ +
        s""""failed": ${ops.count(!_.ok)}, "metrics": {$json}}""")
      if (problems.isEmpty) 0 else 1
    } finally api.close()
  }

  type Metrics = Seq[(String, (Double, String))]

  /** Fresh set-up `reps` times (closing superseded instances untimed),
    * then warm the last instance up if `warm` (once per JVM is enough);
    * returns it and the set-up times.
    */
  private def setUp(a: Args, ctx: Ctx, reps: Int, first: Int,
      warm: Boolean = true): (Workload, Seq[Double]) = {
    var w: Workload = null
    val times = (0 until reps).map { k =>
      if (w != null) w.close()
      val t0 = System.nanoTime()
      w = Workloads(a.workload, ctx, first + k)
      w.prepare()
      Workloads.seconds(t0)
    }
    if (warm) w.warmUp()
    (w, times)
  }

  private def untraced(a: Args, api: PosApi): (Seq[(String, Pass)], Metrics) = {
    val t0 = System.nanoTime()
    val spark = session(Threads, a.work)
    try {
      val ctx = new Ctx(spark, a.work, a.seed, api, new Tracer(false, spark.sparkContext))
      val t1 = System.nanoTime()
      val (w, setups) = setUp(a, ctx, SetupReps, 0)
      try {
        a.plant.foreach(w.plant)
        val t2 = System.nanoTime()
        val p = pass(w)((n, busy) => n > 0 && busy >= a.seconds)
        System.err.println(f"etlbench: session ${(t1 - t0) / 1e9}%.1f s, set-ups " +
          setups.map(x => f"$x%.2f").mkString(" ") + f" s, pass ${Workloads.seconds(t2)}%.1f s " +
          f"(${p.wallS}%.1f s in operations)")
        val rss = peakRssMb()
        // latency percentiles are over committing operations; injected
        // faults end early by design and are timed as the fail layer
        val walls = p.ops.filter(_.committedTxns > 0).map(_.wallS)
        val committed = p.ops.map(_.committedTxns).sum
        (Seq("measure" -> withChecksum(p, ctx)), Seq(
          "setup_s" -> (percentile(setups, 0.5), "s"),
          "txns_per_s" -> (committed / p.wallS, "1/s"),
          "run_s_p50" -> (percentile(walls, 0.5), "s"),
          "run_s_p75" -> (percentile(walls, TailPct), "s"),
          "peak_rss_mb" -> (rss, "MB")))
      } finally w.close()
    } finally spark.stop()
  }

  private def withChecksum(p: Pass, ctx: Ctx): Pass = p.copy(checksum = ctx.checksum.hex)

  /** The untraced and the traced pass run the same first `k` operations on
    * two fresh instances, interleaved and alternating which goes first, so
    * both see the same JVM warm-up and the difference of their walls is
    * the tracing overhead. The one-thread reference then repeats the last
    * few of those operations on a `local[1]` session.
    */
  private def traced(a: Args, api: PosApi): (Seq[(String, Pass)], Metrics) = {
    val k = tracedOps(a.workload)
    val spark = session(Threads, a.work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val (plain, tracedPass, ctxT) = try {
      val ctxU = new Ctx(spark, a.work, a.seed, api, new Tracer(false, spark.sparkContext))
      val ctxT = new Ctx(spark, a.work, a.seed, api, new Tracer(true, spark.sparkContext))
      val (wu, _) = setUp(a, ctxU, 1, 0)
      val (wt, _) = setUp(a, ctxT, 1, 1, warm = false)
      try {
        EtlBenchAccess.drainListeners(spark.sparkContext)
        listener.reset(); ctxT.tracer.spans.clear(); ctxT.counts.clear()
        val opsU, opsT = mutable.ArrayBuffer.empty[Op]
        var gc = 0.0
        def tracedOp(i: Int): Unit = {
          val g0 = gcSeconds()
          opsT += wt.op(i)
          gc += gcSeconds() - g0
        }
        (0 until k).foreach { i =>
          if (i % 2 == 0) { opsU += wu.op(i); tracedOp(i) }
          else { tracedOp(i); opsU += wu.op(i) }
        }
        EtlBenchAccess.drainListeners(spark.sparkContext)
        ctxT.count("jvm.gc_s", gc)
        ctxT.tracer.writeJsonl(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
        def done(w: Workload, ops: Seq[Op], ctx: Ctx) =
          Pass(ops, ops.filterNot(_.ok).map(_.detail) ++ w.check(), ctx.checksum.hex)
        (done(wu, opsU.toSeq, ctxU), done(wt, opsT.toSeq, ctxT), ctxT)
      } finally { wu.close(); wt.close() }
    } finally spark.stop()

    val k1 = OneThreadOps
    val spark1 = session(1, a.work)
    val one = try {
      val ctx1 = new Ctx(spark1, a.work, a.seed, api, new Tracer(false, spark1.sparkContext))
      val (w1, _) = setUp(a, ctx1, 1, 2, warm = false)
      try withChecksum(pass(w1, from = k - k1)((n, _) => n >= k1), ctx1) finally w1.close()
    } finally spark1.stop()

    val spans = ctxT.tracer.totals
    val c = ctxT.counts
    def s(layer: String) = spans.get(layer).map(_._1).getOrElse(0.0)
    def self(layer: String) = spans.get(layer).map(_._2).getOrElse(0.0)
    def jobs(layer: String) = listener.counts(layer).jobs.toDouble
    val layers = Seq("ingest", "validate", "enrich", "load", "reconcile", "mart",
      "jdbc_write", "jdbc_read", "fail", "run")
    val metrics: Metrics =
      layers.filterNot(_ == "run").map(l => s"$l.s" -> (s(l), "s")) ++
      layers.map(l => s"$l.self_s" -> (self(l), "s")) ++ Seq(
        "ingest.bytes" -> (c("ingest.bytes"), "B"),
        "ingest.http_retries" -> (c("ingest.http_retries"), "count"),
        "validate.jobs" -> (jobs("validate"), "count"),
        "validate.tasks" -> (listener.counts("validate").tasks.toDouble, "count"),
        "validate.task_s_max" -> (listener.counts("validate").taskMaxS, "s"),
        "validate.rows" -> (c("validate.rows"), "count"),
        "enrich.jobs" -> (jobs("enrich"), "count"),
        "enrich.rows" -> (c("enrich.rows"), "count"),
        "load.jobs" -> (jobs("load"), "count"),
        "load.bytes_written" -> (c("load.bytes_written"), "B"),
        "load.write_amp" -> (
          if (c("load.batch_bytes") > 0) c("load.bytes_written") / c("load.batch_bytes") else 0.0,
          "ratio"),
        "reconcile.jobs" -> (jobs("reconcile"), "count"),
        "mart.jobs" -> (jobs("mart"), "count"),
        "jdbc_write.rows" -> (c("jdbc_write.rows"), "count"),
        "jdbc_write.jobs" -> (jobs("jdbc_write"), "count"),
        "jdbc_read.pushed" -> (c("jdbc_read.pushed"), "count"),
        "fail.stage_ok" -> (c("fail.stage_ok"), "count"),
        "spark.jobs" -> (listener.traced.map(_.jobs).sum.toDouble, "count"),
        "spark.tasks" -> (listener.traced.map(_.tasks).sum.toDouble, "count"),
        "spark.shuffle_bytes" -> (listener.traced.map(_.shuffleBytes).sum.toDouble, "B"),
        "jvm.gc_s" -> (c("jvm.gc_s"), "s"),
        "spark.speedup_vs_1thread" -> (
          one.wallS / plain.ops.takeRight(k1).map(_.wallS).sum, "ratio"),
        "trace.overhead_s" -> (tracedPass.wallS - plain.wallS, "s"))
    (Seq("untraced" -> plain, "traced" -> tracedPass, "one-thread" -> one), metrics)
  }
}
