package etlbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks on itself: the generator is a pure function
  * of the seed, a clean pass on a second seed matches the oracle, and every
  * planted fault in a checked output makes the command report a mismatch
  * that names the planted key, and exit non-zero (an oracle that cannot
  * fail proves nothing).
  */
class OracleSelfTest extends AnyFunSuite {

  private val work = Path.of("target", "selftest-work").toAbsolutePath

  private def command(workload: String, seed: Long, seconds: Double,
      plant: Option[String] = None): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Main.run(Main.Args(workload, seed, seconds, trace = false, work, plant), out)
    (code, buf.toString("UTF-8"))
  }

  private def lastLine(s: String) = s.trim.linesIterator.toSeq.last

  /** Operations the measured pass ran, from its report line. */
  private def opsRun(out: String): Int =
    """pass measure: (\d+) ops""".r.findFirstMatchIn(out).map(_.group(1).toInt)
      .getOrElse(fail(s"no pass line in:\n$out"))

  /** The command failed, and one MISMATCH line starts with `expected`. */
  private def assertReported(code: Int, out: String, expected: String): Unit = {
    assert(code != 0, out)
    assert(lastLine(out).startsWith("""{"correct": false"""), out)
    assert(out.linesIterator.exists(_.startsWith(s"MISMATCH $expected")), s"want: $expected\n$out")
  }

  test("the generator yields byte-identical inputs for a seed and different ones for another") {
    def small(seed: Long) = {
      val plan = new SmallRuns.Schedule(seed)
      val sum = new Gen.Checksum
      (0 until 40).foreach(i => sum.add(plan.delivery(i)))
      sum.hex
    }
    def rows(seed: Long) = {
      val sum = new Gen.Checksum
      sum.add(Gen.txns(Gen.rng(seed, "jbatch", 0), "r", 2000))
      sum.hex
    }
    assert(small(5) == small(5))
    assert(small(5) != small(6))
    assert(rows(5) == rows(5))
    assert(rows(5) != rows(6))
    val plan = new SmallRuns.Schedule(5)
    val kinds = (0 until 20).map(plan.kind)
    assert(kinds.count(_ == "redeliver") == 2)
    assert(kinds.count(k => SmallRuns.Faults.contains(k)) == 3)
  }

  test("a clean pass matches the oracle on a second seed") {
    for ((w, secs) <- Seq("small_runs" -> 6.0, "warehouse_jdbc" -> 3.0)) {
      val (code, out) = command(w, 7, secs)
      assert(code == 0, out)
      assert(lastLine(out).startsWith("""{"correct": true"""), out)
    }
  }

  // seed 3's first ten runs hold a redelivery and two faults that must
  // raise; a 30 s pass reaches them
  private val Seed = 3L
  private val Seconds = 30.0
  private val seedKey = "(seed-00000,seed-00000-t000000)"

  test("small_runs: a planted altered revenue_cents is reported by its key") {
    val (code, out) = command("small_runs", Seed, Seconds, Some("revenue"))
    assertReported(code, out, s"warehouse: 1 row mismatch(es): row $seedKey: revenue expected")
  }

  test("small_runs: a planted dropped row is reported by its key") {
    val (code, out) = command("small_runs", Seed, Seconds, Some("drop"))
    assertReported(code, out, s"warehouse: 1 row mismatch(es): missing row $seedKey")
  }

  test("small_runs: a planted duplicate of a redelivered key is reported by that key") {
    val (code, out) = command("small_runs", Seed, Seconds, Some("dup"))
    val plan = new SmallRuns.Schedule(Seed)
    val last = (0 until opsRun(out)).filter(plan.kind(_) == "redeliver").lastOption
      .getOrElse(fail(s"the pass ran no redelivery:\n$out"))
    val d = plan.delivery(last)
    assertReported(code, out,
      s"warehouse: 1 row mismatch(es): duplicate key (${d.runId},${d.txns.head.txnId})")
  }

  test("small_runs: a planted fault that does not raise is reported by its run_id") {
    val (code, out) = command("small_runs", Seed, Seconds, Some("noraise"))
    val plan = new SmallRuns.Schedule(Seed)
    val first = (0 until opsRun(out)).find(plan.delivery(_).expect != Commit)
      .getOrElse(fail(s"the pass ran no fault that must raise:\n$out"))
    val d = plan.delivery(first)
    d.expect match {
      case Raise(stage, error) => assertReported(code, out,
        s"${d.runId} (${d.scenario}): expected $error from $stage, nothing raised")
      case Commit => fail(s"${d.runId} must raise")
    }
  }

  for (plant <- Seq("revenue", "drop")) {
    test(s"warehouse_jdbc: a planted '$plant' fault is reported by its key") {
      val (code, out) = command("warehouse_jdbc", Seed, 2, Some(plant))
      val runId = f"jrun-${opsRun(out) - 1}%05d"
      val key = s"($runId,$runId-t000000)"
      assertReported(code, out, s"${WarehouseJdbc.Table}: 1 row mismatch(es): " +
        (if (plant == "revenue") s"row $key: revenue expected" else s"missing row $key"))
    }
  }
}
