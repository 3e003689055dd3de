package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Distributed connected components by iterated min-label propagation with
 * pointer jumping — the finishing step of every near-duplicate pipeline:
 * LSH/Jaccard emits PAIRS, but dedup needs CLUSTERS (keep one representative
 * per component of the pair graph). The reference's dedup surface stops at
 * pair emission; this closes it the way production training-data pipelines
 * do (cf. the MapReduce CC literature: Rastogi et al. "Finding Connected
 * Components in MapReduce", Kiveris et al. "Connected Components in
 * MapReduce and Beyond" — label propagation + path doubling, preceded by
 * the literature's other standard ingredient: PARTITION-LOCAL CONTRACTION).
 *
 * Semantics: every node's final label is the MINIMUM node id in its
 * component — algorithm-independent, so the DuckDB oracle can replay it
 * with a recursive CTE while Spark runs the log-round version.
 *
 * Round-6 optimization (guide §1.2 "the distributed algorithm" / §2.4):
 * before any global round, each partition of the edge list union-finds its
 * OWN edges in memory (min-id representative) and only the per-partition
 * (node -> local root) map plus the BRIDGE edges between one node's roots
 * in different partitions reach the global loop. The loop input shrinks
 * from E edges to at most (#nodes-with-cross-partition-presence) bridges —
 * on the q76 near-dup graph the contraction partition count (derived from
 * EDGE VOLUME, not core count) is 1, the bridge set is empty, and the
 * 14-round / ~4.5 s loop disappears entirely (measured: CC 4.5 s -> 0.6 s
 * at sf0.1). At 100-TB scale partitions hold ~[[ContractEdgesPerPart]]
 * edges each, local contraction removes the intra-partition diameter, and
 * the global loop runs on the much smaller bridge graph — same rounds
 * bound, strictly less data per round.
 *
 * Scale (global loop): per round, (a) one aggregation of neighbor labels
 * (shuffle on the symmetric edge list, map-side partial min) and (b) one
 * self-join of the label table (pointer jump); measured round counts grow
 * ~log(diameter) (ConnectedComponentsSpec's 256-path assertion).
 *
 * Driver round-trips: the rounds run on [[IterativeLoops.fixpoint]] in
 * blind geometric blocks with one change-probe count per block (labels
 * only decrease, so a quiet round IS the fixpoint). The block cap is
 * min(12, ceil(log2 nodes)+1): doubling never needs more than log2(n)+1
 * rounds, and 12 bounds the blind work past convergence and the shuffle
 * stages one block's job chains.
 */
object ConnectedComponents {

  import IterativeLoops.{materializedLeaf, materializedLeafLazy}

  /** Edges per contraction partition (~64 MB of long pairs): the
    * contraction works on whatever partitioning the edge frame has, but
    * tiny inputs are first coalesced (narrow, no shuffle) so the local
    * union-find sees the whole graph when the whole graph is small —
    * data-volume-derived, never a core count. */
  private[operators] val ContractEdgesPerPart = 4000000L

  /**
   * Component labels for the undirected graph given as an edge list.
   *
   * @param edges DataFrame with two columns of the same orderable type;
   *              multiplicity and orientation are irrelevant, null
   *              endpoints are dropped.
   * @return one row per distinct node appearing in `edges`:
   *         (id, lbl) with lbl = min node id of the node's component.
   *         Nodes with no edges are the caller's to add back
   *         (coalesce(lbl, id) after a left join).
   */
  def minLabel(edges: DataFrame, aCol: String, bCol: String,
               maxRounds: Int = 64, edgesDistinct: Boolean = false): DataFrame =
    minLabelContracted(edges, aCol, bCol, maxRounds, edgesDistinct, ContractEdgesPerPart)

  /** [[minLabel]] with the contraction's edges per partition as a parameter,
    * so a small graph can take the multi-partition path under test. */
  private[operators] def minLabelContracted(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int, edgesDistinct: Boolean, edgesPerPart: Long): DataFrame = {
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v")).na.drop()
    // symmetric, deduplicated edge list — reused verbatim every round.
    // edgesDistinct: the caller guarantees distinct oriented pairs (a < b),
    // making the symmetrized union distinct by construction — skips a full
    // shuffle of the edge list (LSH pair generators already emit this shape)
    val symRaw = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
    // LAZY leaf: the count below (or, on the non-long path, loopLabels'
    // first count) is the materializing action — staging + count in one job
    val sym = materializedLeafLazy(if (edgesDistinct) symRaw else symRaw.distinct())

    val isLong = sym.schema.fields.forall(_.dataType == LongType)
    if (!isLong) return loopLabels(sym, maxRounds)

    // ---- partition-local contraction (long ids) ----
    val nSym = sym.count() // materializes the lazy leaf and counts, one job
    if (nSym == 0L) return loopLabels(sym, maxRounds)
    val c = contract(sym, nSym, edgesPerPart)
    val spark = sym.sparkSession
    import spark.implicits._
    val rootLbl = loopLabels(c.bridges, maxRounds)
    // compose: a node's label is the component label of any of its local
    // roots (they all share one); roots without bridge edges label
    // themselves. min() collapses the per-partition rows per node.
    materializedLeaf(
      c.localMap.join(rootLbl.select($"id".as("root"), $"lbl".as("rl")), Seq("root"), "left")
        .groupBy($"id")
        .agg(min(coalesce($"rl", $"root")).as("lbl")))
  }

  /** The partition-local contraction of a materialized symmetric long edge
    * frame with `nSym` rows: the partition count it ran at, each partition's
    * (id, local root) map, and the symmetric bridge edges between roots. */
  private[operators] final case class Contraction(parts: Int, localMap: DataFrame, bridges: DataFrame)

  private[operators] def contract(sym: DataFrame, nSym: Long, edgesPerPart: Long): Contraction = {
    val spark = sym.sparkSession
    import spark.implicits._
    val parts = math.max(1L, math.min(sym.rdd.getNumPartitions.toLong,
      (nSym + edgesPerPart - 1) / edgesPerPart)).toInt
    // one pass per partition: in-memory union-find with the MIN id as
    // representative; emits (id, local root) for every node the partition
    // saw. Deterministic: partition contents are deterministic and the
    // result map is a pure function of them (emission order is irrelevant
    // to the aggregations below).
    // lazy leaf: materialized inside loopLabels' round-0 count (the whole
    // contraction -> bridge -> round-0 chain is one job), then reread from
    // cache by the final compose join
    val localMap = materializedLeafLazy(
      sym.as[(Long, Long)].coalesce(parts).mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) { x = p; p = parent.getOrDefault(x, x) }
          var y = x0 // path compression
          while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
          x
        }
        it.foreach { case (u, v) =>
          if (!parent.containsKey(u)) parent.put(u, u)
          if (!parent.containsKey(v)) parent.put(v, v)
          val ru = find(u); val rv = find(v)
          if (ru != rv) { if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv) }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
        parent.forEach((k, _) => out += ((k, find(k))))
        out.iterator
      }.toDF("id", "root"))
    // bridge edges: a node seen by several partitions ties its local roots
    // together — (min root, other root) per node; the global loop runs on
    // THESE, not on the raw edges. Components entirely inside one
    // partition contribute nothing.
    val minRoot = localMap.groupBy($"id").agg(min($"root").as("r0"))
    val bridge = localMap.join(minRoot, "id")
      .filter($"root" =!= $"r0")
      .select($"r0".as("u"), $"root".as("v"))
    Contraction(parts, localMap, materializedLeafLazy(
      bridge.union(bridge.select($"v".as("u"), $"u".as("v"))).distinct()))
  }

  /** The global min-label + pointer-jump loop over a MATERIALIZED symmetric
    * distinct edge frame (u, v); returns (id, lbl) for every node in it. */
  private def loopLabels(sym: DataFrame, maxRounds: Int): DataFrame = {
    // round 0: lbl(v) = min(v, neighbors(v)) — lazy leaf, materialized by
    // the count just below (one job for round 0 + its cardinality)
    val lbl0 = materializedLeafLazy(
      sym.groupBy(col("u").as("id")).agg(min(col("v")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("lbl")))
    // n == 0 is the empty graph (no round runs); n also sizes the block cap
    val n = lbl0.count()
    val blockCap = math.max(2, math.min(12,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 1))
    IterativeLoops.fixpoint("connected components", lbl0, n, maxRounds, blockCap)(
      (cur, _) => {
        // (a) propagate: each node adopts the min label over its neighbors
        val nbrMin = sym.join(cur.withColumnRenamed("id", "nid"), col("v") === col("nid"))
          .groupBy(col("u").as("pid")).agg(min(col("lbl")).as("nl"))
        val prop = cur.join(nbrMin, col("id") === col("pid"), "left")
          .select(col("id"),
                  least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("l1"))
        // (b) pointer jump: follow the adopted label one hop through the
        // current label table (labels are ids, so lbl(l1) is defined)
        prop
          .join(cur.select(col("id").as("jid"), col("lbl").as("jl")),
                col("l1") === col("jid"), "left")
          .select(col("id"),
                  least(col("l1"), coalesce(col("jl"), col("l1"))).as("lbl"))
      },
      (_, leaf) => leaf) { (prev, next) =>
      next.join(prev.select(col("id").as("sid"), col("lbl").as("l0")),
                col("id") === col("sid"))
        .filter(col("lbl") < col("l0")).count()
    }
  }
}
