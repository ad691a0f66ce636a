package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling.
  *
  * Complements the cohesion analytics (triangles tc1, components cc1,
  * PageRank pr1): the reference profiles its knowledge graph with
  * centrality/stats surfaces (`mcp_vector_search/core/knowledge_graph.py`
  * stats methods); coreness is the standard "how deep in the dense part
  * of the graph does this node sit" measure used to rank entities and to
  * prune low-support nodes before expensive pairwise work.
  *
  * Scale shape: each peel round is one degree aggregation plus two
  * semi-joins (both endpoints must survive) — all hash-partitioned by
  * node id, no windows, no collects. The surviving edge set only ever
  * shrinks, so round cost is monotonically decreasing; rounds stop as
  * soon as a peel removes nothing (early exit on a metadata-scale
  * count). Deep cascades eagerly `localCheckpoint` the shrinking edge
  * relation so Catalyst never re-optimizes a growing lineage, as
  * `WalkLayout.walk` checkpoints its rounds. Round count is bounded by
  * the peel depth of the graph (≤ longest degeneracy cascade), not by
  * |V|: each round removes EVERY currently-under-k node at once.
  */
object KCore {

  /** Canonical undirected edge set: (a < b), self-loops and duplicate /
    * reversed copies dropped.
    */
  private def canonical(edges: DataFrame): DataFrame =
    edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Peel `e0` to the k-core fixpoint: repeatedly drop nodes whose
    * degree in the surviving edge set is < k. Throws
    * [[IllegalStateException]] if `maxRounds` is exhausted before the
    * fixpoint — a silent bail would return nodes that violate the
    * degree ≥ k invariant (the same refuse-to-emit contract as
    * `Dedup.resolveClustersStar`). Peel depth is bounded by the graph's
    * degeneracy-cascade length: chain/tree shapes cascade ~diameter/2
    * rounds, so deep sparse graphs need a larger `maxRounds` (the
    * throw tells the caller that, instead of handing back a wrong set).
    */
  /** Returns the fixpoint edge set AND its row count (already known
    * from the last round's materializing count — callers must not pay
    * another probe job for it).
    */
  private def peel(e0: DataFrame, k: Int, maxRounds: Int,
      n0: Long = -1L): (DataFrame, Long) = {
    var e = e0
    // previous round's surviving-edge count; callers that already know
    // it pass n0, otherwise the first round reads it off the caller's
    // materialized checkpoint (cached-partition scan)
    var nE = if (n0 >= 0) n0 else WalkLayout.materializedCount(e0)
    var round = 0
    var shrinking = true
    while (shrinking && round < maxRounds) {
      val deg = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val survivors = deg.filter(col("deg") >= k).select(col("node"))
      // r12: lazy checkpoint mark + single-job RDD count = materialize
      // + shrink test in ONE job per round (the eager form scheduled a
      // checkpoint job AND count jobs; the previous round's count is
      // carried in nE; see WalkLayout.materializedCount)
      val e2 = e
        .join(survivors.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(survivors.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(eager = false)
      val n2 = WalkLayout.materializedCount(e2)
      shrinking = n2 < nE
      e = e2
      nE = n2
      round += 1
    }
    if (shrinking)
      throw new IllegalStateException(
        s"k-core peel (k=$k) did not reach its fixpoint in $maxRounds " +
          "rounds — raise maxRounds for deep (chain/tree-shaped) cascades")
    (e, nE)
  }

  /** The k-core subgraph's nodes: every returned node has degree ≥ k
    * within the returned set. Output: (node, deg) with deg = degree
    * inside the k-core.
    *
    * @param maxRounds bound on peel rounds; exhausting it THROWS rather
    *                  than returning a non-fixpoint (invariant-violating)
    *                  node set.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    val (e, _) = peel(canonical(edges).localCheckpoint(eager = true), k, maxRounds)
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("deg"))
  }

  /** Full coreness decomposition: (node, coreness) where coreness is the
    * largest k such that the node survives in the k-core. Nodes with at
    * least one edge get coreness ≥ 1. Computed by nesting: the
    * (k+1)-core is peeled from the k-core's edges, so total work is the
    * sum of the (shrinking) core sizes — not kMax full passes over the
    * input.
    *
    * @param maxRounds per-level bound on the inner peel loop (shared
    *                  [[peel]] semantics: exhausting it throws instead
    *                  of emitting a wrong decomposition). The default is
    *                  deliberately much larger than [[kCore]]'s: a full
    *                  decomposition must survive deep sparse cascades
    *                  (a path of L nodes at k=2 peels ~2 nodes/round →
    *                  ~L/2 rounds), and the peel loop ALWAYS terminates
    *                  on its own (the surviving edge count strictly
    *                  decreases every continuing round), so the bound is
    *                  a wall-clock guard, not a termination requirement.
    */
  def coreness(edges: DataFrame, kMax: Int = 64,
      maxRounds: Int = 10000): DataFrame = {
    var e = canonical(edges).localCheckpoint(eager = true)
    var acc = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .distinct()
      .select(col("node"), lit(1).as("coreness"))
      .localCheckpoint(eager = true)
    var k = 2
    var nCur = WalkLayout.materializedCount(e)
    var nonEmpty = nCur > 0
    while (nonEmpty && k <= kMax) {
      // peel the k-core out of the (k-1)-core's surviving edges; the
      // emptiness probe rides on peel's own materializing count (r12)
      val (ek, nk) = peel(e, k, maxRounds, nCur)
      e = ek
      nCur = nk
      nonEmpty = nk > 0
      if (nonEmpty) {
        val inCore = e.select(col("a").as("node"))
          .unionByName(e.select(col("b").as("node")))
          .distinct()
          .select(col("node"), lit(k).as("coreness"))
        acc = acc.join(inCore.select("node"), Seq("node"), "left_anti")
          .unionByName(inCore)
          .localCheckpoint(eager = true)
        k += 1
      }
    }
    acc.select(col("node"), col("coreness").cast("int").as("coreness"))
  }
}
