package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Shared machinery for DataFrame FIXPOINT LOOPS (connected components,
 * transitive closure, kNN ring expansion, any iterate-until-stable
 * dataflow): the severing helpers and [[fixpoint]], the one round loop.
 */
object IterativeLoops {

  /**
   * Materialize + SEVER: `localCheckpoint` truncates the execution lineage,
   * but the returned LogicalRDD still carries origin constraints/stats
   * referencing the producing plan — chained across loop iterations, that
   * metadata makes Catalyst's per-round PLANNING time grow EXPONENTIALLY
   * (measured on q85's 22-round CC: flat 0.3 s/round for ~16 rounds, then
   * 1/2/4/9/24 s while task counts stayed flat and the 25 s round-22 gap
   * sat between jobs — pure driver planning; invisible below ~15 rounds).
   * Rebuilding the frame from the checkpointed RDD drops every reference
   * to the old plan, so each round starts from a bare leaf. The extra Row
   * conversion runs over the already-cached checkpoint blocks.
   *
   * Every loop round MUST route its new state through this — a plain
   * localCheckpoint is not enough.
   */
  def materializedLeaf(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /**
   * Materialize-on-first-action variant: the lineage is severed NOW (the
   * returned frame is a bare leaf over the checkpoint RDD, so the
   * exponential-planning hazard above cannot occur), but the blocks cache
   * inside the CALLER'S NEXT action — a fixpoint round that follows its
   * materialization with a termination count pays ONE job for both instead
   * of two (guide §7.3: on small per-round states the fixed per-job
   * driver overhead dominates the loop; measured ~0.85 s of pure driver
   * gap across q80's 32 jobs). The caller's first action must consume
   * every partition fully — counts and non-short-circuiting joins qualify,
   * limit-style actions do not.
   */
  def materializedLeafLazy(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(false)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /**
   * The fixpoint loop. A round builds the next state's frame with
   * `step(state, lastCount)`, severs it through [[materializedLeafLazy]]
   * (no action) and folds the leaf into the state with `absorb`.
   *
   * Rounds run BLIND in blocks, and a block's one action is
   * `moving(prev, next)` over its last round: a count that consumes every
   * partition (it materializes the block's chain of lazy leaves) and is
   * zero only when `next` is final. With `blockCap` 1 every round is
   * probed (for callers whose count is also their termination test);
   * otherwise block lengths grow 2, 4, 8, ... up to `blockCap`, so a
   * shallow fixpoint overshoots by at most ~2x while a deep one pays
   * O(log) probes.
   *
   * `count0` is the caller's count of `init`; 0 runs no round. When
   * `maxRounds` rounds are spent with the last count nonzero, ONE
   * verification round runs — a count of changes sees a fixpoint reached
   * at the last round only one round later. Its state is the result if its
   * count is zero; otherwise the loop fails instead of running on.
   */
  def fixpoint[S](what: String, init: S, count0: Long, maxRounds: Int, blockCap: Int)(
      step: (S, Long) => DataFrame, absorb: (S, DataFrame) => S)(
      moving: (S, S) => Long): S = {
    var state = init
    var count = count0
    var round = 0
    def next(s: S): S = {
      round += 1
      absorb(s, materializedLeafLazy(step(s, count)))
    }
    var block = math.min(2, blockCap)
    while (count > 0 && round < maxRounds) {
      var prev = state
      val end = math.min(maxRounds, round + block)
      while (round < end) { prev = state; state = next(state) }
      count = moving(prev, state)
      block = math.min(blockCap, block * 2)
    }
    if (count > 0) {
      val prev = state
      state = next(state)
      count = moving(prev, state)
    }
    require(count == 0L,
      s"$what did not converge in $maxRounds rounds ($round run, $count still moving)")
    state
  }
}
