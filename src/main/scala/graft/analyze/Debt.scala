package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A15 technical-debt scoring + trend tracking — the reference's debt
  * index + SQLite trend store (`analysis/debt.py`, `analysis/storage/
  * metrics_store.py`, `trend_tracker.py`) as run_ts-stamped snapshot
  * rows with window-function trends.
  */
object Debt {

  /** Per-file debt score for one analysis run: weighted blend of smell
    * severity, complexity, and size (bounded 0-100, higher = worse).
    */
  def snapshot(chunks: DataFrame, runTs: java.sql.Timestamp): DataFrame = {
    val sev = Analytics.smells(chunks)
      .withColumn("w", when(col("severity") === "critical", 5.0)
        .when(col("severity") === "major", 3.0)
        .when(col("severity") === "minor", 1.0).otherwise(0.5))
      .groupBy(col("file_path"))
      .agg(sum(col("w")).as("smell_weight"))
    chunks
      .groupBy(col("file_path"))
      .agg(
        sum(col("complexity")).as("total_complexity"),
        count(lit(1)).as("n_chunks"),
        sum(col("token_count")).as("tokens"))
      .join(sev, Seq("file_path"), "left")
      .na.fill(0.0, Seq("smell_weight"))
      .withColumn("debt_score", least(lit(100.0),
        col("smell_weight") * 4.0 +
          col("total_complexity") / col("n_chunks") * 2.0 +
          col("tokens") / 1000.0))
      .withColumn("run_ts", lit(runTs))
      .select("run_ts", "file_path", "debt_score", "smell_weight",
        "total_complexity", "n_chunks", "tokens")
  }

  /** Trend: per-file debt delta vs the previous run (lag window over
    * run_ts) — the reference's trend queries re-expressed.
    */
  def trend(snapshots: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("file_path")).orderBy(col("run_ts"))
    snapshots
      .withColumn("prev_score", lag(col("debt_score"), 1).over(w))
      .withColumn("delta", col("debt_score") - coalesce(col("prev_score"), col("debt_score")))
      .withColumn("direction",
        when(col("delta") > 0, "worsening")
          .when(col("delta") < 0, "improving").otherwise("stable"))
  }

  /** Repo-level rollup per run. */
  def totals(snapshots: DataFrame): DataFrame =
    snapshots.groupBy(col("run_ts"))
      .agg(
        sum(col("debt_score")).as("total_debt"),
        avg(col("debt_score")).as("avg_debt"),
        count(lit(1)).as("n_files"))
}
