package graft.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
  * third leg of the sketch family next to [[Bloom]] (membership) and
  * [[CountMin]] (frequency): cardinality of a key column in CONSTANT
  * memory, mergeable by element-wise register max. At 100 TB "how many
  * distinct urls/users/n-grams" is exactly the query one cannot answer
  * with countDistinct's full shuffle of the key space; HLL's register
  * relation is 2^p rows regardless of corpus size, and sketches from
  * disjoint shards/days union by max — the same property that makes
  * the register table a persistable, incrementally-updatable artifact.
  *
  *  - register index = low p bits of the 60-bit portable hash;
  *  - rho = position of the first 1-bit in the remaining w = 60-p bits
  *    (1-based; 0 for an untouched register, w+1 when those bits are
  *    all zero);
  *  - registers: groupBy idx, max(rho) — max is idempotent, so NO
  *    distinct pass over the keys is needed (duplicates cannot move a
  *    max), and the aggregation is map-side combinable into 2^p rows;
  *  - estimate: alpha_m·m²/Z with Z = Σ 2^-M_j. The sum is computed in
  *    EXACT integer arithmetic scaled by 2^(60-p) (every term
  *    2^(60-p-M_j) is integral, M_j ≤ 60-p+1 ⇒ the scaled term ≥ 0.5
  *    rounds to itself only at M_j = max — handled by flooring), so
  *    the only floating-point steps are the final division and the
  *    small-range ln — single IEEE-double operations both engines
  *    agree on bit-for-bit.
  *
  * Hashing is [[PortableHash]] so the DuckDB oracle rebuilds the
  * identical registers: estimation ERROR is deterministic and
  * reproduced, not approximated, by the mirror.
  */
object Hll {

  /** Scaled-Z denominator exponent: terms are 2^(wBits - M_j)·2, kept
    * ×2 so the all-zero-suffix register (M_j = wBits+1) still maps to
    * an exact integer 1.
    */
  private def wBits(p: Int): Int = 60 - p

  /** Sparse register relation: (idx int, rho int), ≤ 2^p rows.
    * `keys` may contain duplicates (max is idempotent).
    */
  def registers(keys: DataFrame, keyCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val h = PortableHash.hash60(col(keyCol), 0)
    val idx = pmod(h, lit(m.toLong)).cast("int")
    val w = shiftright(h, p) // h < 2^60 ⇒ w < 2^(60-p), exact
    // first-1-bit position of w within wBits digits, via the binary
    // string: lpad(bin(w), wBits, '0') then instr — portable to DuckDB
    // bin()/instr() exactly; w = 0 (no 1-bit) ⇒ wBits + 1
    val rho = when(w === 0L, lit(wBits(p) + 1))
      .otherwise(instr(lpad(bin(w), wBits(p), "0"), "1"))
    keys.select(idx.as("idx"), rho.cast("int").as("rho"))
      .groupBy(col("idx")).agg(max(col("rho")).as("rho"))
  }

  /** Dense registers: every idx in [0, 2^p), rho 0 where untouched. */
  def denseRegisters(keys: DataFrame, keyCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val spark = keys.sparkSession
    val all = spark.range(m).select(col("id").cast("int").as("idx"))
    all.join(registers(keys, keyCol, p), Seq("idx"), "left_outer")
      .select(col("idx"), coalesce(col("rho"), lit(0)).cast("int").as("rho"))
  }

  /** alpha_m for the standard bias correction (Flajolet et al. §4). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Single-row estimate from a DENSE register relation:
    * (n_zero, z_scaled, est_distinct). z_scaled = Σ 2^(wBits+1-M_j) —
    * exact integers (max term 2^(wBits+1)·m < 2^62 at p ≥ 4), so the
    * distributed sum is order-free; est applies alpha·m²·2^(wBits+1)/
    * z_scaled, with the small-range linear-counting correction
    * (est ≤ 2.5m and zeros present ⇒ m·ln(m/V)).
    */
  def estimate(dense: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val scaleExp = wBits(p) + 1
    val term = expr(s"shiftleft(CAST(1 AS BIGINT), $scaleExp - rho)")
    val agg = dense.agg(
      sum(when(col("rho") === 0, 1L).otherwise(0L)).cast("long")
        .as("n_zero"),
      sum(term).cast("long").as("z_scaled"))
    // alpha·m²·2^scaleExp as ONE driver-computed double literal: its
    // Double.toString rendering round-trips exactly, so the oracle uses
    // the identical constant
    val c = alpha(m) * m.toDouble * m.toDouble * math.pow(2.0, scaleExp)
    val raw = lit(c) / col("z_scaled").cast("double")
    agg.withColumn("est_distinct",
      round(when(raw <= 2.5 * m && col("n_zero") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero")))
        .otherwise(raw), 4))
  }

  /** DuckDB mirrors. */
  def rhoSql(keyExpr: String, p: Int): String = {
    val m = 1 << p
    val h = PortableHash.hash60Sql("0", keyExpr)
    val w = s"(($h) // $m)"
    s"(CASE WHEN $w = 0 THEN ${wBits(p) + 1} " +
      s"ELSE instr(lpad(bin($w), ${wBits(p)}, '0'), '1') END)"
  }

  /** The exact estimate constant the engine uses, for the oracle. */
  def estConst(p: Int): Double = {
    val m = 1 << p
    alpha(m) * m.toDouble * m.toDouble * math.pow(2.0, wBits(p) + 1)
  }

  def idxSql(keyExpr: String, p: Int): String = {
    val m = 1 << p
    s"CAST((${PortableHash.hash60Sql("0", keyExpr)}) % $m AS INTEGER)"
  }
}
