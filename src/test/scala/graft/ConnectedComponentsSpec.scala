package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** Driver-side union-find — the independent ground truth. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(i => i)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to roots, then label = min of component = root (roots
    // only ever decrease toward the min in the merge rule above)
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.minLabel(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** String ids skip partition-local contraction (long ids only), so these
    * runs put every edge through the global min-label loop. */
  private def runStrings(edges: Seq[(String, String)], maxRounds: Int = 64): Map[String, String] =
    ConnectedComponents.minLabel(edges.toDF("a", "b"), "a", "b", maxRounds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("random graphs match driver-side union-find") {
    var seed = 42L
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    for (trial <- 0 until 5) {
      val n = 60 + trial * 30
      val m = n / 2 + trial * 20
      val edges = (0 until m).map { _ =>
        (math.floorMod(next(), n).toLong, math.floorMod(next(), n).toLong)
      }.filter { case (a, b) => a != b }
      val got = run(edges)
      val want = unionFind(n, edges)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      // unpadded names: the String min ("n10" < "n9") is not the long min
      val gotS = runStrings(edges.map { case (a, b) => (s"n$a", s"n$b") })
      assert(got.keySet == touched, s"trial $trial node set")
      assert(gotS.keySet == touched.map(v => s"n$v"), s"trial $trial String node set")
      touched.foreach { v =>
        // ids in the same want-component must share a got-label equal to min
        val comp = touched.filter(u => want(u) == want(v))
        assert(got(v) == comp.min, s"trial $trial node $v")
        assert(gotS(s"n$v") == comp.map(u => s"n$u").min, s"trial $trial String node $v")
      }
    }
  }

  test("long path converges in ~log rounds (pointer jumping, not BFS)") {
    val n = 256
    val edges = (0L until n - 1).map(i => (i + 1, i)) // reversed orientation too
    val got = run(edges)
    assert((0L until n).forall(got(_) == 0L))
    val again = ConnectedComponents.minLabel(edges.toDF("a", "b"), "a", "b", maxRounds = 16)
    assert(again.count() == n)
    // the long run is solved by contraction alone; on String ids the global
    // loop runs, where BFS-min would need 255 rounds and maxRounds = 16
    // only passes with doubling (zero-padded: ids still increase along the path)
    val gotS = runStrings(edges.map { case (a, b) => (f"$a%03d", f"$b%03d") }, maxRounds = 16)
    assert(gotS.size == n && gotS.values.forall(_ == "000"))
  }

  test("duplicate edges, self-loops, two components, empty input") {
    val edges = Seq((5L, 7L), (7L, 5L), (5L, 5L), (7L, 9L), (20L, 21L))
    val got = run(edges)
    assert(got == Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L))
    assert(ConnectedComponents.minLabel(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() == 0)
  }
}
