package graft

import graft.Harness.{Outcome, Timing}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's flat-profile envelope must be ENFORCED, not just
  * recorded (round 10 shipped two 4-6 s lines green because nothing
  * failed). Planted-offender coverage for the gate main() turns into a
  * non-zero exit, and for the other exit cause: a failed prepare. */
class BenchGateSpec extends AnyFunSuite {

  private val sweep = "/root/testdata/sf0.1"

  private def t(sec: Double, ok: Boolean = true, gc: Long = 7L): Timing =
    Timing(sec, ok, 1L, gc, 1, 1, 1, 0.0)

  private def lines(rows: (String, Double, Boolean)*): Seq[(String, Timing)] =
    rows.map { case (k, v, ok) => (k, t(v, ok)) }

  private def noRetry(name: String): Timing = fail(s"unexpected re-measure of $name")

  test("a planted slow line fails the gate with the offender named") {
    val results = lines(("q1_agg", 0.4, true), ("q170_graph_triangles", 5.21, true),
      ("q2_join", 0.3, true))
    // the retry reproduces the breach
    val (_, msg) = Bench.gateWithRetry(results, 3.0, sweep, _ => t(5.21))
    assert(msg.isDefined)
    assert(msg.get.contains("q170_graph_triangles=5.21s"))
    assert(!msg.get.contains("q1_agg"))
  }

  test("an all-fast sweep passes") {
    val results = lines(("q1_agg", 0.4, true), ("q170_graph_triangles", 2.2, true))
    assert(Bench.gateWithRetry(results, 3.0, sweep, noRetry)._2.isEmpty)
  }

  test("failed lines are the errors channel's job, not the envelope's") {
    // a FAILED query reports negative seconds and rides the errors
    // list; the envelope must not double-report it
    val results = lines(("q9_broken", 9.9, false))
    assert(Bench.gateWithRetry(results, 3.0, sweep, noRetry)._2.isEmpty)
  }

  test("amplified-SF probes and explicit opt-out disable the gate") {
    val slow = lines(("q1_agg", 9.0, true))
    assert(Bench.gateWithRetry(slow, 3.0, "/tmp/amplified_x32", noRetry)._2.isEmpty)
    assert(Bench.gateWithRetry(slow, 0.0, sweep, noRetry)._2.isEmpty)
    assert(Bench.gateWithRetry(slow, -1.0, sweep, noRetry)._2.isEmpty)
  }

  // --- breach-retry discipline ------------------------------------------

  test("retry: a regime spike (fast re-measure) clears the gate and is evidenced") {
    val sweep13 = lines(("q1_agg", 0.4, true), ("q62_decontamination", 5.35, true))
    var remeasured = List.empty[String]
    val (resolved, failure) = Bench.gateWithRetry(sweep13, 3.5, sweep, { name =>
      remeasured ::= name; t(0.31, gc = 3L)
    })
    assert(failure.isEmpty, failure)
    // ONLY the breaching line is re-measured
    assert(remeasured == List("q62_decontamination"))
    // reported timing = best of all measures; evidence carries both
    val q62 = resolved.find(_._1 == "q62_decontamination").get
    assert(q62._2.sec == 0.31 && q62._2.ok && q62._2.gcMs == 3L)
    assert(q62._3.contains((5.35, 0.31)))
    // the untouched fast line carries no retry evidence
    assert(resolved.find(_._1 == "q1_agg").get._3.isEmpty)
  }

  test("retry: a TRUE regression (slow re-measure) still fails, naming both measures") {
    val sweep13 = lines(("q88_top_tokens", 6.64, true))
    val (resolved, failure) = Bench.gateWithRetry(sweep13, 3.5, sweep,
      _ => t(6.1, gc = 900L))
    assert(failure.isDefined)
    assert(failure.get.contains("q88_top_tokens=6.10s"))
    assert(failure.get.contains("first 6.64s") && failure.get.contains("retry 6.10s"))
    // reported seconds stay min-of-all-measures even on failure
    assert(resolved.head._2.sec == 6.1 && resolved.head._2.ok)
  }

  test("retry: a retry that lands between gate and first measure still fails") {
    val (_, failure) = Bench.gateWithRetry(lines(("q90_anomaly_windows", 5.8, true)),
      3.5, sweep, _ => t(4.2, gc = 0L))
    assert(failure.isDefined && failure.get.contains("q90_anomaly_windows=4.20s"))
  }

  test("retry: an ERRORING re-measure is a reproduced breach, not a soft error") {
    // the old behavior reclassified a sweep-passing line as failed
    // (errors channel) and let the gate pass — a query that crashes
    // when slow converted a reproducible breach into exit 0
    val (resolved, failure) = Bench.gateWithRetry(lines(("q62_decontamination", 5.35, true)),
      3.5, sweep, _ => t(1.0, ok = false, gc = 0L))
    assert(failure.isDefined, "an unreproducibly-fast line must fail the gate")
    assert(failure.get.contains("retry ERRORED"))
    // the line itself keeps its valid sweep measure and ok status
    assert(resolved.head._2.ok, "sweep-passing line must not be reclassified failed")
    assert(resolved.head._2.sec == 5.35)
    // evidence encodes the erroring retry as a negative duration
    assert(resolved.head._3.contains((5.35, -1.0)))
  }

  test("retry: disabled gate (amplified SF / opt-out) never re-measures") {
    var calls = 0
    val slow = lines(("q1_agg", 9.0, true))
    val (_, f1) = Bench.gateWithRetry(slow, 3.5, "/tmp/amplified_x32",
      { _ => calls += 1; t(0.1) })
    val (_, f2) = Bench.gateWithRetry(slow, 0.0, sweep,
      { _ => calls += 1; t(0.1) })
    assert(f1.isEmpty && f2.isEmpty && calls == 0)
    // and an already-failed line is never re-measured either
    val (_, f3) = Bench.gateWithRetry(lines(("q9_broken", 9.9, false)), 3.5, sweep,
      { _ => calls += 1; t(0.1) })
    assert(f3.isEmpty && calls == 0)
  }

  // --- report -------------------------------------------------------------

  private val fast = Seq(("q1_agg", t(0.4), None), ("q2_join", t(0.3), None))

  test("report: a failed prepare is named in the compact line and fails the run") {
    val prepares = Seq(Outcome("buckets", None), Outcome("dedup_graph", Some("boom")))
    val (out, failure) = Bench.report(fast, prepares, Nil, None, sweep)
    val compact = out.last
    assert(compact.contains(""""prepare_failed":["dedup_graph"]"""), compact)
    assert(!compact.contains("\"buckets\""))
    assert(failure.exists(_.contains("dedup_graph")))
  }

  test("report: warm-up failures are named but do not fail the run") {
    val (out, failure) = Bench.report(fast, Seq(Outcome("buckets", None)),
      Seq("q2_join"), None, sweep)
    assert(out.last.contains(""""warmup_failed":["q2_join"]"""), out.last)
    assert(out.last.contains(""""prepare_failed":[]"""))
    assert(failure.isEmpty)
  }

  test("report: per-query lines carry the job counts; a gate failure still fails") {
    val (out, failure) = Bench.report(fast, Nil, Nil, Some("gate"), sweep)
    assert(out.head == """{"metric":"query","name":"q1_agg","sec":0.4,"gc_ms":7,"jobs":1,"stages":1,"tasks":1,"task_s":0.000}""")
    assert(out.size == fast.size + 2)
    assert(failure.contains("gate"))
  }
}
