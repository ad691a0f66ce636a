package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as pure Catalyst
  * higher-order-function expressions (no UDF, no driver work).
  *
  * Precision contract: the dot product is a *sequential float32 fold*
  * (products in float, accumulate in float, left-to-right) — bit-identical
  * to DuckDB's `list_dot_product` on FLOAT lists, so cosine similarities
  * hash-match the oracle without tolerance games. Final cosine arithmetic
  * (division/sqrt) is double, from exactly-agreed float inputs.
  *
  * Reference semantics: cosine similarity ranking as in
  * mcp-vector-search `core/vectors_backend.py:793-840` (similarity in
  * [0,1], higher = closer) and normalize-then-dot as in `core/mmr.py:98-107`.
  */
object VectorFunctions {

  /** Sequential float32 dot product of two array<float> columns, as the
    * codegen'd native FloatDot expression (registered lazily per session,
    * invoked through the public `call_function` API).
    */
  def dotF(a: Column, b: Column): Column = {
    GraftFunctions.ensure("graft_fdot", exprs => FloatDot(exprs(0), exprs(1)))
    call_function("graft_fdot", a, b)
  }

  /** Reference HOF implementation of the same fold (kept for parity
    * testing against FloatDot — must stay bit-identical).
    */
  def dotFHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x * y),
      lit(0.0f),
      (acc, x) => acc + x)

  /** Cosine from precomputed squared norms (already cast to double):
    * identical arithmetic shape to `cosineSql` — dot cast double over
    * sqrt of the product — so precomputation changes cost, not bits.
    */
  def cosinePre(a: Column, b: Column, na2: Column, nb2: Column): Column =
    dotF(a, b).cast("double") / sqrt(na2 * nb2)

  /** Squared-norm column (float dot cast double), for precomputation. */
  def norm2(v: Column): Column = dotF(v, v).cast("double")

  /** Cosine similarity in double, from float32 dots. */
  def cosine(a: Column, b: Column): Column =
    dotF(a, b).cast("double") /
      sqrt(dotF(a, a).cast("double") * dotF(b, b).cast("double"))

  /** Squared L2 distance (float fold), for KMeans-style assignment. */
  def l2sqF(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0f),
      (acc, x) => acc + x)

  /** DuckDB SQL mirrors. */
  def dotFSql(a: String, b: String): String = s"list_dot_product($a, $b)"

  /** Mirror of `l2sqF`: float diff list, then the same sequential float
    * fold of the squared terms via `list_dot_product(d, d)` — (x-y)² and
    * (y-x)² are bit-identical in IEEE754, so argument order is free.
    */
  def l2sqSql(a: String, b: String): String = {
    val d = s"list_transform($a, (x, i) -> x - ($b)[i])"
    s"list_dot_product($d, $d)"
  }

  def cosineSql(a: String, b: String): String =
    s"(CAST(list_dot_product($a, $b) AS DOUBLE) / " +
      s"sqrt(CAST(list_dot_product($a, $a) AS DOUBLE) * " +
      s"CAST(list_dot_product($b, $b) AS DOUBLE)))"
}
