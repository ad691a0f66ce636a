package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source weighted shortest paths by distributed Bellman-Ford
  * relaxation — the weighted upgrade of [[Kg.minDist]]'s hop-count BFS
  * (edge weights model call costs, co-change strengths, or link
  * distances on the KG the reference walks unweighted).
  *
  * Scale shape: one weighted [[WalkLayout.walk]] — each round joins
  * only the nodes the last round improved with the static edges, then
  * one min-aggregation by node; rounds early-exit as soon as a round
  * improves nothing. Rounds are bounded by the hop-depth of the
  * shortest-path tree, not |V|.
  *
  * Determinism: costs are integer sums; min() is total; ties cannot
  * diverge (same integer). The fixed-round oracle replays the identical
  * relaxation — rounds past the fixpoint are no-ops.
  */
object ShortestPath {

  /** Min cost from `source` to every reachable node. edges: (src, dst,
    * w) with non-negative integer weights; parallel edges collapse to
    * their min. Output: (node, cost).
    *
    * Throws [[IllegalStateException]] if `maxRounds` relaxation rounds
    * pass without reaching the fixpoint: Bellman-Ford needs up to the
    * shortest-path tree's hop depth (≤ |V|−1) rounds, so a deep graph
    * that exhausts the budget would otherwise silently return
    * overestimated or missing distances. Raise `maxRounds` (2^64-deep
    * trees don't exist; 64 covers any graph whose SP-tree depth ≤ 64).
    */
  def fromSource(edges: DataFrame, source: Long,
      maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (dist, converged) = WalkLayout.walk(
      edges.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")),
      Seq((source, 0L)).toDF("id", "dist"), Nil, maxRounds,
      weight = Some("w"))
    // refuse to emit non-converged distances: the last round still
    // improved a node, so costs may be overestimates and deep nodes may
    // be missing entirely
    if (!converged())
      throw new IllegalStateException(
        s"shortest-path relaxation did not converge in $maxRounds " +
          "rounds — the SP-tree is deeper than the budget; raise maxRounds")
    dist.select(col("id").as("node"), col("dist").cast("long").as("cost"))
  }
}
