package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FunctionalClosure

class FunctionalClosureSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], maxRounds: Int = 48): Set[(Long, Long)] =
    FunctionalClosure.ancestorPairs(edges.toDF("u", "v"), "u", "v", maxRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("path: all downstream pairs, in log rounds") {
    val n = 64
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val got = run(edges, maxRounds = 9) // 64-path needs ceil(log2 63)+1 = 7
    assert(got.size === n * (n - 1) / 2)
    assert(got((0L, 63L)) && got((62L, 63L)) && !got((5L, 5L)) && !got((7L, 3L)))
  }

  test("tree: descendant counts match a driver-side walk") {
    // two trees draining to 0 and 100
    val edges = Seq[(Long, Long)]((1, 0), (2, 0), (3, 1), (4, 1), (5, 3),
                                  (101, 100), (102, 101))
    val got = run(edges)
    val upstream = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(upstream(0L) === 5 && upstream(1L) === 3 && upstream(3L) === 1)
    assert(upstream(100L) === 2 && upstream(101L) === 1)
    assert(!upstream.contains(5L) && !upstream.contains(102L))
  }

  test("empty input") {
    assert(run(Seq.empty).isEmpty)
  }

  test("cyclic input fails the maxRounds guard instead of saturating") {
    // the frontier of a cycle never empties: the guard stops the loop after
    // maxRounds rounds plus the one verification round
    val e = intercept[IllegalArgumentException](run(Seq((1L, 2L), (2L, 3L), (3L, 1L)), maxRounds = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"))
  }
}
