package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) ANN index — the reference's LanceDB IVF_SQ path
  * (`core/vectors_backend.py:1264-1353`, query `:793-804`) re-expressed
  * as data layout + query shape:
  *
  *  - build: MLlib KMeans (seeded, deterministic) over a sample →
  *    centroid table (tiny, broadcast); corpus assigned to nearest
  *    centroid → at rest, write the vectors table PARTITIONED BY
  *    cluster_id so a probe prunes partitions at the parquet scan;
  *  - query: rank centroids by distance to the query, keep `nprobes`,
  *    exact cosine only over rows in those clusters, top-k.
  *
  * Sizing mirrors the reference: k = clamp(√N, 16, 512) capped at
  * N/4096, index skipped entirely below 4096 rows (brute force wins,
  * BASELINE.md "ANN index build threshold").
  */
object Ivf {

  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame, k: Int)

  def clusterCount(n: Long): Int = {
    val byRoot = math.sqrt(n.toDouble).toInt
    val byMin = (n / 4096L).toInt
    math.max(1, math.min(math.min(math.max(byRoot, 16), 512), math.max(byMin, 1)))
  }

  /** Max rows the KMeans fit ever sees: centroid QUALITY saturates at a
    * few hundred samples per centroid (k ≤ 512 ⇒ ≥256/centroid at the
    * cap), while fitting on the full corpus would be maxIter complete
    * passes over 100 TB — the reference's Lance backend likewise trains
    * IVF on a sample and assigns the full set.
    */
  val FitSampleCap: Long = 131072L

  /** Build the index: assign every row to its nearest centroid.
    * Output `assigned` = corpus + cluster_id; `centroids` = (cluster_id,
    * centroid array<float>). Deterministic via fixed seed.
    *
    * The KMeans FIT runs over a deterministic hash-based sample of at
    * most ~[[FitSampleCap]] rows (`hash60(id) % s == 0` — stable across
    * partitionings and re-runs, unlike `df.sample`); the ASSIGNMENT
    * below is always the full corpus through the portable argmin, so
    * index contents are exact regardless of the sample.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long = 42L, kOverride: Option[Int] = None,
      fitSampleCap: Long = FitSampleCap): IvfIndex = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val n = base.count()
    // n in [4096, 8192) makes clusterCount's n/4096 floor return 1 —
    // KMeans rejects k=1, so that band takes the single-cluster branch
    // too (r12 crash fix; previously threw IllegalArgumentException)
    if (kOverride.isEmpty && (n < 4096 || clusterCount(n) < 2)) {
      // below threshold: single cluster (degenerates to brute force)
      val assigned = base.withColumn("cluster_id", lit(0))
      val centroids = base.limit(1)
        .select(lit(0).as("cluster_id"), col("vec").as("centroid"))
      return IvfIndex(assigned, centroids, 1)
    }
    val k = kOverride.getOrElse(clusterCount(n))
    val fitInput = fitSample(base, n, fitSampleCap)
    val withFeatures = fitInput.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("vec")))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(10).setFeaturesCol("features")
      .fit(withFeatures)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toDF("cluster_id", "centroid")
    // Assignment is OUR portable argmin over the float32 centroid table,
    // not model.transform: MLlib's fastSquaredDistance is a norm-shortcut
    // approximation whose ulp noise could flip near-equidistant argmins,
    // while this float fold + (cdist, cluster_id) min is deterministic
    // and bit-mirrorable in the DuckDB oracle. Map-side partial min over
    // a broadcast k-row table: one shuffle of N rows, no window.
    val assigned = base.crossJoin(broadcast(centroids))
      .withColumn("cdist", VectorFunctions.l2sqF(col("vec"), col("centroid")))
      .groupBy(col("id"))
      .agg(min(struct(col("cdist"), col("cluster_id"), col("vec"))).as("m"))
      .select(col("id"), col("m.vec").as("vec"),
        col("m.cluster_id").as("cluster_id"))
    IvfIndex(assigned, centroids, k)
  }

  /** The deterministic fit sample: every row whose portable id-hash
    * lands in residue 0 of `mod = ceil(n / cap)` — ~cap rows, chosen by
    * content (id), not by partition layout, so the fitted centroids are
    * reproducible for a given corpus however it is stored or split.
    */
  private[graft] def fitSample(base: DataFrame, n: Long, cap: Long): DataFrame =
    if (n <= cap) base
    else {
      val mod = (n + cap - 1) / cap
      base.filter(
        pmod(graft.functions.PortableHash.hash60(lit("ivf-fit"),
          col("id").cast("string")), lit(mod)) === 0)
    }

  /** Incremental index maintenance: assign a NEW batch to the EXISTING
    * centroid table (no refit — the ANN parallel of ic1's incremental
    * dedup routing). Identical portable argmin to [[build]], so the
    * combined index is exactly what a from-scratch assignment against
    * the same centroids would produce; periodic refit stays a separate
    * indexing-time decision (the reference's reindex path).
    */
  def assignBatch(centroids: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", VectorFunctions.l2sqF(col("vec"), col("centroid")))
      .groupBy(col("id"))
      .agg(min(struct(col("cdist"), col("cluster_id"), col("vec"))).as("m"))
      .select(col("id"), col("m.vec").as("vec"),
        col("m.cluster_id").as("cluster_id"))

  /** Append an assigned batch to a persisted layout: mode=append under
    * the same cluster partitioning, so new files land inside existing
    * cluster directories and probes keep pruning at the scan.
    */
  def append(path: String, assignedBatch: DataFrame): Unit =
    assignedBatch.select(col("id"), col("vec"), col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id")
      .parquet(s"$path/vectors")

  /** Persist partitioned by cluster so probes prune at the scan. */
  def write(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster_id").parquet(s"$path/vectors")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reopen a persisted index: queries against it scan the
    * cluster-partitioned parquet layout, so a probe prunes partitions at
    * the file level — the engine-native "open the index" path.
    */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val assigned = spark.read.parquet(s"$path/vectors")
    val centroids = spark.read.parquet(s"$path/centroids")
    IvfIndex(assigned, centroids, centroids.count().toInt)
  }

  /** Query: prune to the `nprobes` nearest clusters, exact cosine top-k
    * inside them. `refine` over-fetch (reference refine_factor) happens
    * naturally since scoring inside probed clusters is already exact.
    */
  def topK(index: IvfIndex, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, nprobes: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    // rank centroids per query (centroid table is tiny: k ≤ 512 rows)
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("cdist").asc, col("cluster_id").asc)
    val probes = index.centroids.crossJoin(broadcast(q))
      .withColumn("cdist", VectorFunctions.l2sqF(col("centroid"), col("qvec")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobes)
      .select(col("qid"), col("qvec"), col("cluster_id"))
    // scan only probed clusters (partition pruning when read from disk)
    val scored = index.assigned
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", VectorFunctions.cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
  }
}
