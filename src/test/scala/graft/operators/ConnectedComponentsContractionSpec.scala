package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The long-id multi-partition contraction: parts > 1, a non-empty bridge
  * graph through the global loop, and the compose join. The default
  * [[ConnectedComponents.ContractEdgesPerPart]] (4M) keeps every small graph
  * in one partition, so these runs lower it. */
class ConnectedComponentsContractionSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** Driver-side union-find: node -> min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("random long-id graph over 8 partitions: bridges reach the loop, labels == union-find") {
    val rnd = new scala.util.Random(7)
    // sparse ids far apart (not 0..n), oriented a < b and distinct
    val ids = Array.tabulate(600)(i => 1000003L * i + rnd.nextInt(1000))
    val edges = Seq.fill(700)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    val df = spark.sparkContext.parallelize(edges, 8).toDF("a", "b")
    val sym = df.union(df.select($"b", $"a")).toDF("u", "v")

    val c = ConnectedComponents.contract(sym, sym.count(), edgesPerPart = 100)
    assert(c.parts > 1, "contraction ran in one partition")
    assert(c.bridges.count() > 0, "no bridge edges between partitions")

    val got = ConnectedComponents.minLabelContracted(df, "a", "b", maxRounds = 64,
      edgesDistinct = true, edgesPerPart = 100)
      .as[(Long, Long)].collect().toMap
    assert(got == unionFind(edges))
  }
}
