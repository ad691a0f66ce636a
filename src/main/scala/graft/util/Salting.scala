package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers (SURVEY §7 100 TB posture). A hot key —
  * one file with a million chunks, one term in every document, one
  * near-dup cluster — funnels an entire shuffle into one task. Salting
  * splits the hot key across `factor` sub-keys; aggregation runs in two
  * exact stages (partial per salt → final), joins replicate the small
  * side per salt. AQE's skew-join handles the join case adaptively, but
  * salted AGGREGATION is still a plan-shape decision, hence this helper.
  */
object Salting {

  /** Two-stage salted sum-like aggregation: exact for any commutative
    * associative aggregate expressed as (colName → sum) pairs.
    */
  def saltedSum(df: DataFrame, keyCols: Seq[String], factor: Int,
      sums: Map[String, String]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor)))
    val partialAggs = sums.map { case (c, alias) => sum(col(c)).as(s"_p_$alias") }.toSeq
    val p = salted.groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = sums.map { case (_, alias) => sum(col(s"_p_$alias")).as(alias) }.toSeq
    p.groupBy(keyCols.map(col): _*).agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted broadcast-replicated join for a skewed big side against a
    * small side: big rows get a random salt, small side is exploded to
    * all salts, join key becomes (key, salt). Exact join semantics for
    * inner joins on equi-keys.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      factor: Int): DataFrame = {
    val b = big.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(factor)))
    val s = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1)).cast("array<bigint>")))
    b.join(broadcast(s), Seq(key, "_salt")).drop("_salt")
  }
}
