package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization for the vectors table — the SQ in the reference's
  * IVF_SQ index (`core/vectors_backend.py:1316-1335`): store int8 codes +
  * per-vector (min, scale) instead of float32, cutting vector bytes 4×.
  * At 100 TB that is the difference between scanning 25 TB and 100 TB
  * per brute-force pass, and IVF probes shrink proportionally.
  *
  * Encoding: per-vector affine — code = round((x - min) / scale * 255) -
  * 128, stored as array<tinyint> (Spark byte). Decode is exact affine
  * arithmetic, so quantized cosine is deterministic (though lossy vs
  * float32 — recall impact bounded by 8-bit resolution; the reference
  * accepts the same trade and re-ranks with exact vectors, which
  * `requantizedTopK` mirrors via the refine step).
  */
object Quantize {

  /** Add (codes array<tinyint>, qmin double, qscale double). */
  def encode(vectors: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    vectors
      .withColumn("qmin", array_min(v).cast("double"))
      .withColumn("qmax", array_max(v).cast("double"))
      .withColumn("qscale",
        when(col("qmax") > col("qmin"), col("qmax") - col("qmin")).otherwise(1.0))
      .withColumn("codes", transform(v, x =>
        (round((x.cast("double") - col("qmin")) / col("qscale") * 255) - 128)
          .cast("tinyint")))
      .drop("qmax")
  }

  /** Reconstruct an approximate float vector from codes. */
  def decode(codes: Column, qmin: Column, qscale: Column): Column =
    transform(codes, c =>
      ((c.cast("double") + 128) / 255.0 * qscale + qmin).cast("float"))

  /** Two-stage retrieval mirroring the reference's refine_factor: rank
    * with quantized vectors, over-fetch refine*k candidates, exact-rank
    * the survivors with the float vectors. corpus must carry both
    * `vecCol` and the encode() columns.
    */
  def requantizedTopK(encoded: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, refine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r11: decode + squared norm are corpus-side facts — computed ONCE
    // per corpus row in a pre-join projection instead of once per
    // (corpus × query) pair inside the cross join (the old shape paid
    // |queries|× the interpreted decode transform and 2 of the 3 dot
    // folds per pair; guide §1.2 per-task work). cosinePre over the
    // same float values is arithmetically identical to cosine (same
    // FloatDot folds, same double ops), so ranks and the a4 oracle
    // hash are unchanged.
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .withColumn("qn2",
        graft.functions.VectorFunctions.norm2(col("qvec")))
    val dec = encoded.withColumn("dvec",
      decode(col("codes"), col("qmin"), col("qscale")))
      .withColumn("dn2", graft.functions.VectorFunctions.norm2(col("dvec")))
    val approx = dec
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("asim", graft.functions.VectorFunctions.cosinePre(
        col("dvec"), col("qvec"), col("dn2"), col("qn2")))
    val wA = Window.partitionBy(col("qid")).orderBy(col("asim").desc, col(idCol).asc)
    val cands = approx
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * refine)
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol).asc)
    cands
      .withColumn("sim", graft.functions.VectorFunctions.cosine(col(vecCol), col("qvec")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("id"), col("sim"), col("rank"))
  }
}
