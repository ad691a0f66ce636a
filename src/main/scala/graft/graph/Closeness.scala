package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source harmonic closeness centrality: for a (sampled) seed
  * set S, per-node `harmonic(v) = Σ_{s∈S, s≠v, d(s,v)<∞} 1/d(s,v)` —
  * the centrality that stays well-defined on disconnected graphs
  * (Boldi & Vigna 2014, "Axioms for Centrality"). Exact all-pairs
  * closeness is O(V·E); the standard scale approach is a bounded seed
  * SAMPLE (deterministic here — seeds are caller-chosen ids, e.g.
  * hash-top-k — never RNG), giving state O(V·|S|).
  *
  * Scale shape: one multi-source BFS — a [[WalkLayout.walk]] keyed by
  * seed, so the frontier carries (seed, node, dist) and S sources run
  * in ONE plan instead of S sequential walks; each round joins only the
  * pairs the last round reached with the static edge set, then one
  * min-aggregation. Throws on a round-budget bail like
  * [[ShortestPath.fromSource]] (a silent bail would undercount
  * centrality for deep nodes).
  *
  * Determinism: distances are integers; the harmonic sum is quantized
  * per pair to `10^6 div d` micro-units (integer division on positive
  * operands, so Spark `div` ≡ DuckDB `//`), making the aggregate
  * order-free and engine-exact.
  */
object Closeness {

  /** (node, n_reached, harmonic_micro) for every node reached from at
    * least one seed (self-pairs excluded). edges: (src, dst), directed.
    */
  def harmonicFromSeeds(edges: DataFrame, seeds: Seq[Long],
      maxRounds: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (dist, converged) = WalkLayout.walk(
      edges.select(col("src"), col("dst")).distinct(),
      seeds.map(s => (s, s, 0L)).toDF("s", "id", "dist"), Seq("s"), maxRounds)
    if (!converged())
      throw new IllegalStateException(
        s"multi-source BFS did not converge in $maxRounds rounds — " +
          "the graph is deeper than the budget; raise maxRounds")
    dist.filter(col("dist") > 0)
      .groupBy(col("id").as("node"))
      .agg(count(lit(1)).cast("long").as("n_reached"),
        sum(expr("1000000 div dist")).cast("long").as("harmonic_micro"))
  }
}
