package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank fusion + rerank stages of the search pipeline.
  *
  * Semantics from the reference's `_hybrid_search` / RRF fusion
  * (`core/search.py:1613-1772`, k=60, alpha weighting, max-normalize)
  * and the heuristic rerank stage (`core/result_ranker.py:7-208`).
  * Both are pure column algebra over rank DataFrames — no state, no
  * driver work, shuffle only on the fused key — except [[rrfLocal]], the
  * same fusion over rank lists already collected to the driver.
  */
object Fusion {
  val RrfK = 60

  /** Scale-safe top-N with 1-based ranks by descending score and a unique
    * id tiebreak. The cut is `orderBy(...).limit(n)` — Spark plans this as
    * TakeOrderedAndProject (per-partition top-N merged on the driver), so
    * the full input never funnels through a single-partition WindowExec.
    * Ranks are then assigned on the ≤N-row cut set: one partition, sorted,
    * `monotonically_increasing_id` is the 0-based row number there.
    */
  def ranked(scores: DataFrame, idCol: String, scoreCol: String,
      topN: Int): DataFrame = {
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    scores
      .orderBy(ord: _*)
      .limit(topN)
      .coalesce(1)
      .sortWithinPartitions(ord: _*)
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Re-rank an already-bounded result set (a pre-cut top-N from an earlier
    * stage — never a full corpus) without a global-window shuffle: one
    * partition, sorted, monotonic id as the row number.
    */
  def rankedBounded(scores: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    scores
      .coalesce(1)
      .sortWithinPartitions(ord: _*)
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Reciprocal-rank fusion of a vector rank list and a keyword rank list:
    * score = alpha/(k+rank_vec) + (1-alpha)/(k+rank_kw), a missing side
    * contributes 0, result max-normalized to [0,1].
    * Inputs: (id, rank) each. Output: (id, rrf_score).
    */
  def rrf(vecRanks: DataFrame, kwRanks: DataFrame, alpha: Double): DataFrame = {
    val v = vecRanks.select(col("id"), col("rank").as("rank_v"))
    val k = kwRanks.select(col("id"), col("rank").as("rank_k"))
    val fused = v.join(k, Seq("id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(alpha) / (lit(RrfK) + col("rank_v")), lit(0.0)) +
          coalesce(lit(1 - alpha) / (lit(RrfK) + col("rank_k")), lit(0.0)))
    // Global max as a scalar aggregate broadcast back in — a partial-agg
    // tree plus a 1-row broadcast, vs an empty-frame window that would
    // shuffle every row to one partition.
    val mx = fused.agg(max(col("rrf_raw")).as("rrf_max"))
    fused
      .crossJoin(broadcast(mx))
      .withColumn("rrf_score", col("rrf_raw") / col("rrf_max"))
      .select(col("id"), col("rrf_score"))
  }

  /** [[rrf]] over collected (id → rank) lists, on the driver: same
    * operands in the same order, so `rrf_score` is bit-identical.
    * Output: (id, rrf_score), one row per id on either side.
    */
  def rrfLocal(vecRanks: Map[String, Int], kwRanks: Map[String, Int],
      alpha: Double): Seq[(String, Double)] = {
    val raw = (vecRanks.keySet ++ kwRanks.keySet).toSeq.map { id =>
      id -> (vecRanks.get(id).map(r => alpha / (RrfK + r)).getOrElse(0.0) +
        kwRanks.get(id).map(r => (1 - alpha) / (RrfK + r)).getOrElse(0.0))
    }
    if (raw.isEmpty) raw
    else {
      val mx = raw.map(_._2).max
      raw.map { case (id, r) => id -> r / mx }
    }
  }

  /** Batched RRF for N queries at once: rank inputs carry a qid column,
    * fusion joins on (qid, id), and the max-normalizer is a per-qid
    * aggregate broadcast back in (the query set is small; the fused rows
    * are not). Inputs: (qid, id, rank) each. Output: (qid, id, rrf_score).
    */
  def rrfBatch(vecRanks: DataFrame, kwRanks: DataFrame, alpha: Double): DataFrame = {
    val v = vecRanks.select(col("qid"), col("id"), col("rank").as("rank_v"))
    val k = kwRanks.select(col("qid"), col("id"), col("rank").as("rank_k"))
    val fused = v.join(k, Seq("qid", "id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(alpha) / (lit(RrfK) + col("rank_v")), lit(0.0)) +
          coalesce(lit(1 - alpha) / (lit(RrfK) + col("rank_k")), lit(0.0)))
    val mx = fused.groupBy(col("qid")).agg(max(col("rrf_raw")).as("rrf_max"))
    fused
      .join(broadcast(mx), Seq("qid"))
      .withColumn("rrf_score", col("rrf_raw") / col("rrf_max"))
      .select(col("qid"), col("id"), col("rrf_score"))
  }

  /** DuckDB mirror of rrf() over two rank CTEs named vr(id, rank) and
    * kr(id, rank).
    */
  def rrfSql(alpha: Double): String =
    s"""fused AS (SELECT COALESCE(vr.id, kr.id) AS id,
       |    COALESCE($alpha / ($RrfK + vr.rank), 0.0) +
       |    COALESCE(${1 - alpha} / ($RrfK + kr.rank), 0.0) AS rrf_raw
       |  FROM vr FULL OUTER JOIN kr ON vr.id = kr.id),
       |rrf AS (SELECT id, rrf_raw / (MAX(rrf_raw) OVER ()) AS rrf_score
       |  FROM fused)""".stripMargin
}
