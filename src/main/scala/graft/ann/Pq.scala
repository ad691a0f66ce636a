package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the compressed-domain ANN variant the
  * reference's LanceDB backend exposes as IVF_PQ next to the IVF_SQ path
  * it defaults to (`core/vectors_backend.py:1264-1353` chooses index
  * type; PQ is the other standard LanceDB index). Spark-first shape:
  *
  *  - fit: split the D-dim space into M subspaces of D/M dims; per
  *    subspace, a seeded KMeans over the sub-vectors gives a ksub-entry
  *    codebook (M·ksub·(D/M) floats total — plan-literal sized);
  *  - encode: per row, per subspace, portable float argmin over the
  *    codebook → `codes array<int>` of length M. At rest the codes table
  *    is ~(4·M)/(4·D) of the float table — 8× here — which at 100 TB is
  *    the difference between scanning 100 TB and 12.5 TB per sweep;
  *  - query (ADC, asymmetric distance computation, inner-product
  *    metric): per query, a dot table dt[m][c] = ⟨q_sub(m),
  *    codebook[m][c]⟩ — M·ksub entries computed ONCE per query,
  *    broadcast with it; a candidate's approx cosine (up to the query's
  *    constant norm) is the M-term table-lookup sum over √(per-code
  *    norm sums) — no float math on the corpus side at all. Top
  *    k·refine by that score, then exact cosine rerank of the survivors
  *    (the reference's refine_factor pattern).
  *
  * Determinism contract: encoding argmin is a `least(struct(dist, c))`
  * over the float32 codebook (ties → smallest c), bit-mirrorable as
  * DuckDB `array_position(dlist, list_min(dlist))`; ADC entries are
  * floor(dist·1e6) BIGINTs so the M-term sum is order-free integer
  * arithmetic; the rerank cosine is the FloatDot sequential-fold
  * contract. The fit is not SQL-expressible, but the fitted codebook is
  * data — the oracle interpolates it as literals (the a3 pattern).
  */
object Pq {

  /** Fitted codebook: entries (m, c, sub-centroid of dsub floats). */
  final case class Codebook(m: Int, dsub: Int, ksub: Int,
      entries: Seq[(Int, Int, Seq[Float])])

  /** Fit per-subspace codebooks with seeded MLlib KMeans (maxIter 10,
    * like Ivf.build). The fit is indexing-time cost; sample upstream if
    * the corpus is large — PQ codebooks are conventionally trained on a
    * subsample and that changes nothing downstream.
    */
  def fit(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
      seed: Long = 42L): Codebook = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by M=$m")
    val dsub = dim / m
    val base = corpus.select(col(vecCol).as("vec")).cache()
    try {
      val entries = (0 until m).flatMap { mi =>
        val sub = base.select(
          org.apache.spark.ml.functions.array_to_vector(
            slice(col("vec"), mi * dsub + 1, dsub)).as("features"))
        val model = new KMeans().setK(ksub).setSeed(seed + mi)
          .setMaxIter(10).setFeaturesCol("features").fit(sub)
        model.clusterCenters.zipWithIndex.map { case (c, ci) =>
          (mi, ci, c.toArray.map(_.toFloat).toSeq)
        }
      }
      Codebook(m, dsub, ksub, entries)
    } finally base.unpersist()
  }

  private def subvec(v: Column, cb: Codebook, mi: Int): Column =
    slice(v, mi * cb.dsub + 1, cb.dsub)

  /** Per-row encode: `codes` array<int> of length M, each entry the
    * portable argmin over that subspace's codebook. Pure projection —
    * no shuffle, no join; the codebook rides in the plan as literals.
    */
  def encode(corpus: DataFrame, vecCol: String, cb: Codebook): DataFrame = {
    val codes = array((0 until cb.m).map { mi =>
      val cands = cb.entries.filter(_._1 == mi).sortBy(_._2).map {
        case (_, ci, cent) =>
          struct(
            VectorFunctions.l2sqF(subvec(col(vecCol), cb, mi),
              typedLit(cent)).as("d"),
            lit(ci).as("c"))
      }
      least(cands: _*).getField("c")
    }: _*)
    corpus.withColumn("codes", codes)
  }

  /** Query-side ADC table for the INNER-PRODUCT metric: array (per m)
    * of array (per c) of floor(⟨q_sub, codebook[m][c]⟩·1e6) BIGINT —
    * integer so candidate sums are order-free. Cosine ranking needs dot,
    * not L2: the corpus is not normalized, so L2-ADC and cosine order
    * disagree badly (measured recall 0.4 on the clustered fixture).
    */
  def adcTable(qvec: Column, cb: Codebook): Column =
    array((0 until cb.m).map { mi =>
      array(cb.entries.filter(_._1 == mi).sortBy(_._2).map {
        case (_, _, cent) =>
          floor(VectorFunctions.dotF(subvec(qvec, cb, mi), typedLit(cent))
            .cast("double") * 1000000L).cast("long")
      }: _*)
    }: _*)

  /** Per-code squared-norm micro-units, floor(‖codebook[m][c]‖²·1e6) —
    * query-independent, computed ONCE driver-side from the codebook and
    * carried as plan literals (and interpolated verbatim into the
    * oracle, so there is no cross-engine float question at all). A
    * candidate's approximate norm is the M-term integer sum.
    */
  def codeNorms(cb: Codebook): Seq[Seq[Long]] =
    (0 until cb.m).map { mi =>
      cb.entries.filter(_._1 == mi).sortBy(_._2).map { case (_, _, cent) =>
        var acc = 0.0f
        cent.foreach(x => acc += x * x)
        math.floor(acc.toDouble * 1000000L).toLong
      }
    }

  /** Two-stage ADC retrieval: rank by the integer table-lookup sum over
    * the CODES table only (8× smaller than the vectors — the whole point
    * of PQ is that this sweep never touches a float vector), keep
    * k·refine per query, then join just the survivors back to `vectors`
    * for the exact-cosine rerank. `codes` = (idCol, codes array<int>);
    * `vectors` = (idCol, vecCol); queries broadcast.
    */
  def adcTopK(codes: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      cb: Codebook, k: Int, refine: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .withColumn("dt", adcTable(col("qvec"), cb))
    val n2 = typedLit(codeNorms(cb))
    val adot = (0 until cb.m).map { mi =>
      element_at(element_at(col("dt"), mi + 1), col("codes")(mi) + 1)
    }.reduce(_ + _)
    val an2 = (0 until cb.m).map { mi =>
      element_at(element_at(n2, mi + 1), col("codes")(mi) + 1)
    }.reduce(_ + _)
    // approx cosine up to the query's constant norm: ⟨q,x̂⟩ / ‖x̂‖ — both
    // sums exact integers, so the double division is engine-portable
    val cands = codes.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("adc",
        adot.cast("double") / sqrt(greatest(an2, lit(1L)).cast("double")))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc, col(idCol).asc)
    val wE = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    cands
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * refine)
      .select(col("qid"), col("qvec"), col(idCol))
      .join(vectors.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("sim",
        VectorFunctions.cosine(col(vecCol), col("qvec")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("id"), col("sim"), col("rank"))
  }
}
