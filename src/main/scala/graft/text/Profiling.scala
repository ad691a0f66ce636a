package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus distribution profiling: per-group percentiles of a numeric
  * column (document lengths, token counts) — the reporting surface a
  * quality-filter threshold is tuned against.
  *
  * Two paths with one signature:
  *  - `percentiles` — EXACT (Catalyst `percentile`, R-7 linear
  *    interpolation, the same definition as DuckDB `quantile_cont`, so
  *    the gate hash-matches). Exact percentile sorts per group; right
  *    for gate-scale groups and for final reporting over pre-aggregated
  *    data.
  *  - `percentilesApprox` — the 100 TB scale path: single-pass
  *    mergeable sketch (`percentile_approx`), error bounded by
  *    `accuracy`; ProfilingSpec asserts the sketch lands within the
  *    exact neighborhood on skewed data.
  */
object Profiling {

  private def pname(p: Double): String =
    "p" + BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString
      .replace(".", "_")

  def percentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      ps.map(p => round(
        expr(s"percentile($valueCol, ${p}d)"), 6).as(pname(p))): _*)

  def percentilesApprox(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      ps.map(p => percentile_approx(col(valueCol), lit(p), lit(accuracy))
        .cast("double").as(pname(p))): _*)

  /** Retention-targeted cutoff calibration: pipelines tune "keep the
    * best r% per domain", not absolute score thresholds — this turns
    * the retention target into the exact per-group cutoff. Per group:
    * k = ceil(n·retainPct/100), cutoff = the k-th highest score
    * ((score desc, id) rank — id tiebreak makes the cutoff VALUE
    * total), n_kept = |score ≥ cutoff| (ties at the cutoff keep, so
    * n_kept ≥ k). Output: (group, n_docs, k_target, cutoff, n_kept).
    *
    * Scale: one group-partitioned window + one group rollup — the
    * same shuffle count as any per-domain aggregate; integer-exact
    * when `scoreCol` is integral.
    */
  def retentionCutoffs(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, retainPct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(retainPct > 0 && retainPct <= 100, "retainPct in (0, 100]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = df.select(col(groupCol), col(scoreCol), col(idCol))
      .withColumn("rk", row_number().over(w))
    val stats = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("k_target",
        ceil(col("n_docs") * retainPct / 100.0).cast("long"))
    val cutoff = ranked.join(stats, Seq(groupCol))
      .filter(col("rk") === col("k_target"))
      .select(col(groupCol), col(scoreCol).as("cutoff"))
    ranked.join(cutoff, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), first(col("cutoff")).as("cutoff"),
        sum(when(col(scoreCol) >= col("cutoff"), 1L).otherwise(0L))
          .as("n_kept"))
      .join(stats.select(col(groupCol), col("k_target")), Seq(groupCol))
      .select(col(groupCol), col("n_docs").cast("long").as("n_docs"),
        col("k_target"), col("cutoff"), col("n_kept").cast("long").as("n_kept"))
  }
}
