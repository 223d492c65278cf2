package graft

import graft.Harness.{Outcome, Prepare}
import org.apache.spark.sql.functions.col

/** The measuring harness: line selection, the prepare table and its
  * consumer sets, the graph-snapshot pool size, and the timer. */
class HarnessSpec extends SparkSpec {

  private val registry = SparkEntry.queries.keys.toSeq

  test("select filters by name and orders by query number, stably") {
    val lines = Seq("q10_b" -> 1, "q2_a" -> 2, "q2_c" -> 3, "q1_z" -> 4)
    assert(Harness.select(lines, None).map(_._1) == Seq("q1_z", "q2_a", "q2_c", "q10_b"))
    assert(Harness.select(lines, Some(Set("q10_b", "q2_c"))).map(_._1) == Seq("q2_c", "q10_b"))
  }

  test("every prepare consumer is a registry line, and the full sweep runs all 11") {
    assert(Harness.prepares.size == 11)
    assert(Harness.prepares.map(_.name).distinct.size == 11)
    Harness.prepares.foreach { p =>
      assert(p.consumers.nonEmpty && p.consumers.subsetOf(registry.toSet), p.name)
    }
    val full = Bench.invocations(registry, 2).toSet
    assert(Harness.prepares.forall(_.consumers.exists(full)))
  }

  test("snapshot pool: one copy per invocation of q165/q166, warm pass included") {
    // q166 is spike-prone: 1 warm + 2 timed; q165 is not: 2 timed
    assert(Harness.snapshotCount(Bench.invocations(registry, 2)) == 5)
    assert(Harness.snapshotCount(Bench.invocations(registry, 1)) == 3)
    // Profile runs each line twice (untimed + timed)
    def profile(lines: String*) = lines.flatMap(n => Seq(n, n))
    assert(Harness.snapshotCount(profile("q165_graph_append", "q166_stream_graph_append")) == 4)
    assert(Harness.snapshotCount(profile("q170_graph_triangles")) == 0)
  }

  test("a line with no artifact runs no prepare") {
    assert(Harness.prepare(spark, sf0001, Seq("q170_graph_triangles", "q1_pricing_summary")).isEmpty)
  }

  test("a planted failing prepare is run only for its consumers and reported by name") {
    var ran = List.empty[String]
    val table = Seq(
      Prepare("ok", Set("q1_a"), (_, _, _) => ran ::= "ok"),
      Prepare("planted", Set("q2_b"), (_, _, _) => throw new IllegalStateException("boom")),
      Prepare("unused", Set("q3_c"), (_, _, _) => ran ::= "unused"))
    val out = Harness.prepare(spark, sf0001, Seq("q1_a", "q2_b"), table)
    assert(ran == List("ok"))
    assert(out == Seq(Outcome("ok", None),
      Outcome("planted", Some("IllegalStateException: boom"))))
  }

  test("timed counts one invocation's rows, jobs, stages and tasks") {
    val t = Harness.timed(spark, "probe")(
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().count())
    assert(t.ok && t.rows == 7L)
    assert(t.jobs >= 1 && t.stages >= 2 && t.tasks >= 4, t)
    assert(t.sec > 0 && t.gcMs >= 0 && t.taskSec >= 0)
    val failed = Harness.timed(spark, "broken")(throw new RuntimeException("planted"))
    assert(!failed.ok && failed.rows == -1L && failed.jobs == 0)
  }

  test("warm names the lines that failed") {
    val lines: Seq[(String, Harness.Line)] = Seq(
      "q1_ok" -> ((s, _) => s.range(3).toDF()),
      "q2_bad" -> ((_, _) => throw new RuntimeException("planted")))
    assert(Harness.warm(spark, sf0001, lines, releaseEach = true) == Seq("q2_bad"))
  }
}
