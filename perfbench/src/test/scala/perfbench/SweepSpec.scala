package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class SweepSpec extends AnyFunSuite {
  test("the result digest ignores row order and sees every column") {
    val a = Array(Row(1L, "x", Seq(1.5, 2.0)), Row(2L, null, Seq.empty[Double]))
    assert(Sweep.digest(a) == Sweep.digest(a.reverse))
    assert(Sweep.digest(a) != Sweep.digest(Array(Row(1L, "x", Seq(1.5, 2.5)), a(1))))
    assert(Sweep.digest(a) != Sweep.digest(a.take(1)))
    assert(Sweep.digest(a).startsWith("2:"))
  }

  test("a thrown operation is counted and named, never swallowed") {
    val r = new Report
    assert(r.attempt("ok")(1).contains(1))
    assert(r.attempt("q7_line")(throw new IllegalStateException("planted")).isEmpty)
    assert(r.attempted == 2)
    assert(r.failures.size == 1 && r.failures.head.startsWith("q7_line: IllegalStateException"))
    assert(r.toJson.contains("\"failed\":1"))
  }
}
