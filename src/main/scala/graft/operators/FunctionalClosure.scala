package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Transitive closure of an ACYCLIC FUNCTIONAL graph (out-degree <= 1 — e.g.
 * a D8 drainage forest, a parent-pointer hierarchy) by JUMP-POINTER
 * DOUBLING: after round k the frontier table holds (u, f^{2^k}(u)) — at
 * most one row per node — and the pairs of length (2^k, 2^{k+1}] are
 * exactly frontier JOIN pairs-so-far (unique split: L = 2^k + r with
 * 0 < r <= 2^k). O(log(longest path)) rounds, like the previous
 * repeated-squaring formulation, but each round now
 *
 *  - joins the <= n-row frontier against the accumulated pairs instead of
 *    self-joining the whole growing pair set (T x T -> n x T), and
 *  - needs NO distinct anywhere: paths in an acyclic functional graph are
 *    unique, so every (u, v) pair is produced exactly once, at its one
 *    length, by its one split. The old per-round DISTINCT reshuffled the
 *    entire accumulated pair set every round — at 100 TB that is the
 *    difference between O(P) and O(P log D) shuffled bytes (guide §2.3).
 *
 * The frontier side is BROADCAST whenever its measured row count is small
 * (size-gated like SpatialJoin's planner — a data-derived decision, not a
 * core count), which makes every chunk join map-side over the cached pair
 * chunks: zero shuffle per round on bounded inputs. Past the gate it
 * degrades to a shuffled hash/sort-merge join with the n-row frontier as
 * the small side.
 *
 * Output is every (u, v) pair with v strictly downstream of u. Its size is
 * the sum of path lengths — the inherent cost of EXACT flow accumulation /
 * descendant counting. Precondition sharpened vs the round-5 version:
 * cycles (which the old fixpoint merely saturated on) now fail the
 * maxRounds guard instead — no caller feeds cycles (steepest-descent edges
 * are acyclic by construction) and the guard turns a silent saturation
 * into a diagnostic. The rounds run on [[IterativeLoops.fixpoint]] with
 * one frontier count per round: the count is the termination test and
 * feeds the next round's broadcast gate.
 */
object FunctionalClosure {

  import IterativeLoops.materializedLeafLazy

  /** Frontier rows below which the per-round joins broadcast the frontier
    * (~64 MB of long pairs at the cap — far under the 8 GB relation cap). */
  private[operators] val FrontierBroadcastMaxRows = 4000000L

  def ancestorPairs(edges: DataFrame, uCol: String, vCol: String,
                    maxRounds: Int = 48): DataFrame = {
    // LAZY leaf: the frontier count below is the materializing action, so
    // edge staging + the initial count are ONE job, and each round's
    // chunk+frontier materialization fuses with its termination count the
    // same way — the loop pays one job per round instead of two.
    val e = materializedLeafLazy(
      edges.select(col(uCol).as("u"), col(vCol).as("v")).na.drop().distinct())
    // each chunk streams `total` (the union of all prior chunks) through a
    // broadcast join, so an uncoalesced chunk would inherit the SUM of all
    // prior chunks' partition counts — compounding ~2x per round into
    // thousands of near-empty tasks. Pin every materialized frame to the
    // edge frame's own partition count (data-derived; at scale e is
    // thousands of partitions and this is a no-op).
    val baseParts = math.max(1, e.rdd.getNumPartitions)
    // state: (pairs of length 1..2^k, frontier (u, f^{2^k}(u)) of <= n rows)
    val (total, _) = IterativeLoops.fixpoint("functional closure (acyclic input required)",
        (e, e), e.count(), maxRounds, blockCap = 1)(
      { case ((total, frontier), frontierN) =>
        val f = if (frontierN <= FrontierBroadcastMaxRows) broadcast(frontier) else frontier
        // the new chunk (lengths (2^k, 2^{k+1}]: an exactly-2^k prefix via
        // the frontier, then a 1..2^k suffix via the accumulated pairs —
        // each pair produced once) and the doubled jump
        // f^{2^{k+1}} = f^{2^k} o f^{2^k} materialize together under a tag
        // column, so the frontier broadcast builds once (ReuseExchange) and
        // the round costs one materialization + one count over cached blocks
        // instead of four separate jobs of fixed overhead each.
        f.as("a").join(total.as("b"), col("a.v") === col("b.u"))
          .select(lit(0).as("t"), col("a.u").as("u"), col("b.v").as("v"))
          .union(
            f.as("a").join(frontier.as("b"), col("a.v") === col("b.u"))
              .select(lit(1).as("t"), col("a.u").as("u"), col("b.v").as("v")))
          .coalesce(baseParts)
      },
      { case ((total, _), both) =>
        (total.union(both.filter(col("t") === 0).select(col("u"), col("v"))),
         both.filter(col("t") === 1).select(col("u"), col("v")))
      }) {
      // frontier_{k+1} empty means no path of length >= 2^{k+1} exists, so
      // every later chunk is empty too; the chunk just produced is already
      // in `total` either way. (An empty chunk with a live frontier just
      // means the longest path is exactly 2^k — the next count ends it.)
      case (_, (_, frontier)) => frontier.count()
    }
    total
  }
}
