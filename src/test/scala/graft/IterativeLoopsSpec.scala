package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IterativeLoops

class IterativeLoopsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** Runs [[IterativeLoops.fixpoint]] on a one-row state `v` with the
    * given round step; `moving` counts a changed `v` (a change count, like
    * connected components' probe). Returns the final `v` and the number of
    * rounds run between consecutive probes. */
  private def loop(v0: Long, maxRounds: Int, blockCap: Int)(
      step: DataFrame => DataFrame): (Long, Seq[Int]) = {
    val perProbe = Seq.newBuilder[Int]
    var rounds = 0
    val init = IterativeLoops.materializedLeafLazy(Seq(v0).toDF("v"))
    val out = IterativeLoops.fixpoint("toy", init, init.count(), maxRounds, blockCap)(
      (s, _) => { rounds += 1; step(s) },
      (_, leaf) => {
        assert(leaf.queryExecution.logical.children.isEmpty, "round state is not severed")
        leaf
      }) { (prev, next) =>
      perProbe += rounds
      rounds = 0
      next.crossJoin(prev.select($"v".as("pv"))).filter($"v" =!= $"pv").count()
    }
    (out.as[Long].head(), perProbe.result())
  }

  private val countdown = (s: DataFrame) => s.select(greatest($"v" - 1, lit(0L)).as("v"))

  test("block schedule: one round per probe at cap 1, doubling blocks up to the cap") {
    // 3 -> 0 at round 3; round 4 is the first quiet one
    assert(loop(3, maxRounds = 64, blockCap = 1)(countdown) === ((0L, Seq(1, 1, 1, 1))))
    // 10 -> 0 at round 10, inside the 8-round block 7..14, whose last round is quiet
    assert(loop(10, maxRounds = 64, blockCap = 8)(countdown) === ((0L, Seq(2, 4, 8))))
    // the cap holds blocks at 4: round 10 still changes, rounds 11..14 are quiet
    assert(loop(10, maxRounds = 64, blockCap = 4)(countdown) === ((0L, Seq(2, 4, 4, 4))))
  }

  test("a fixpoint reached exactly at maxRounds is accepted by the verification round") {
    for (cap <- Seq(1, 8)) {
      // 5 -> 0 at round 5 = maxRounds; the last probe still sees 1 -> 0
      val (v, perProbe) = loop(5, maxRounds = 5, blockCap = cap)(countdown)
      assert(v === 0L)
      assert(perProbe.sum === 6 && perProbe.last === 1, s"cap $cap: $perProbe")
      // one round short: the verification round itself still changes v
      val e = intercept[IllegalArgumentException](loop(5, maxRounds = 4, blockCap = cap)(countdown))
      assert(e.getMessage.contains("toy did not converge in 4 rounds"))
    }
  }

  test("a loop that never settles fails the guard after maxRounds + 1 rounds") {
    var steps = 0
    val e = intercept[IllegalArgumentException] {
      loop(0, maxRounds = 6, blockCap = 4) { s => steps += 1; s.select(($"v" + 1).as("v")) }
    }
    assert(e.getMessage.contains("toy did not converge in 6 rounds"))
    assert(e.getMessage.endsWith("(7 run, 1 still moving)"), e.getMessage)
    assert(steps === 7)
  }
}
