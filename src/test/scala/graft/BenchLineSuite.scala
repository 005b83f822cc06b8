package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchLineSuite extends AnyFunSuite {
  private val rows = Seq("q_a" -> ((3.0, 1.0, 0.0)), "q_b" -> ((1.0, 1.0, 0.0)),
    "q_c" -> ((2.0, 1.0, 0.0)))
  private def render(qs: Seq[(String, (Double, Double, Double))]): String =
    qs.map(_._1).mkString("{\"sf\":\"/data\",\"queries\":[", ",", "]}")

  test("final bench line keeps every row when it fits") {
    assert(Bench.fitLine(rows, Bench.LineBudget)(render) == render(rows.sortBy(_._1)))
  }

  test("final bench line drops the fastest rows first, then all of them") {
    val two = render(Seq(rows(0), rows(2)))
    assert(Bench.fitLine(rows, two.length)(render) == two)
    assert(Bench.fitLine(rows, render(Nil).length)(render) == render(Nil))
    // nothing fits: the line without per-query rows is still the answer
    assert(Bench.fitLine(rows, 5)(render) == render(Nil))
  }
}
