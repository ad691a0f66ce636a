package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Baseline comparison (`analysis/baseline/comparator.py:41-417`):
  * current vs stored per-file metric snapshots → long-form MetricChange
  * rows classified regression / improvement / neutral, plus new /
  * deleted file rows. The reference walks dicts file-by-file on the
  * driver; here both snapshots join full-outer once and the five
  * metrics melt through one explode — O(files) shuffled, not looped.
  *
  * Classification (`:364-417`): |pct| < threshold → neutral; complexity
  * metrics regress when rising and improve when falling; count metrics
  * are always neutral (refactor vs bloat is context). Zero baselines
  * read as ±100% (`:336-344`).
  */
object Baseline {

  /** Metrics where an increase is a regression (`comparator.py:391-399`). */
  val ComplexityMetrics: Seq[String] = Seq(
    "total_complexity", "avg_complexity", "max_complexity",
    "cognitive_complexity", "cyclomatic_complexity", "max_nesting_depth",
    "parameter_count")

  /** The five file-level metrics compared (`comparator.py:276-303`). */
  val FileMetrics: Seq[String] = Seq(
    "total_complexity", "avg_complexity", "max_complexity",
    "function_count", "class_count")

  /** Compare two snapshots (columns: file_path + FileMetrics). Output:
    * (file_path, status, metric_name, baseline_value, current_value,
    * absolute_delta, percentage_delta, classification); new/deleted
    * files carry null metric columns.
    */
  def compare(current: DataFrame, baseline: DataFrame,
      thresholdPct: Double = 5.0): DataFrame = {
    val b = baseline.select(
      col("file_path") +: lit(true).as("b_present") +:
        FileMetrics.map(m => col(m).cast("double").as("b_" + m)): _*)
    val c = current.select(
      col("file_path") +: lit(true).as("c_present") +:
        FileMetrics.map(m => col(m).cast("double").as("c_" + m)): _*)
    val j = b.join(c, Seq("file_path"), "full_outer")
      .withColumn("status",
        when(col("b_present").isNull, "new")
          .when(col("c_present").isNull, "deleted")
          .otherwise("common"))
    val melted = j.filter(col("status") === "common")
      .withColumn("m", explode(array(FileMetrics.map(m =>
        struct(lit(m).as("metric_name"),
          col("b_" + m).as("baseline_value"),
          col("c_" + m).as("current_value"))): _*)))
      .select(col("file_path"), col("status"), col("m.metric_name"),
        col("m.baseline_value"), col("m.current_value"))
      .withColumn("absolute_delta",
        col("current_value") - col("baseline_value"))
      .withColumn("percentage_delta",
        when(col("baseline_value") === 0,
          when(col("current_value") === 0, 0.0)
            .when(col("current_value") > 0, 100.0).otherwise(-100.0))
          .otherwise(col("absolute_delta") / col("baseline_value") * 100))
      .withColumn("classification",
        when(abs(col("percentage_delta")) < thresholdPct, "neutral")
          .when(!col("metric_name").isin(ComplexityMetrics: _*), "neutral")
          .when(col("absolute_delta") > 0, "regression")
          .when(col("absolute_delta") < 0, "improvement")
          .otherwise("neutral"))
    val newDeleted = j.filter(col("status") =!= "common")
      .select(col("file_path"), col("status"),
        lit(null).cast("string").as("metric_name"),
        lit(null).cast("double").as("baseline_value"),
        lit(null).cast("double").as("current_value"),
        lit(null).cast("double").as("absolute_delta"),
        lit(null).cast("double").as("percentage_delta"),
        lit(null).cast("string").as("classification"))
    melted.unionByName(newDeleted)
  }
}
