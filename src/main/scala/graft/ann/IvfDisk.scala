package graft.ann

import org.apache.spark.sql.SparkSession

/** Disk-backed IVF query path: read the cluster-partitioned layout that
  * `Ivf.write` produced and probe it. Because the vectors table is
  * PARTITIONED BY cluster_id, the `cluster_id IN (probes)` filter prunes
  * whole partitions at the parquet scan — at 100 TB a query touches
  * nprobes/k of the corpus bytes, which is the entire point of IVF.
  */
object IvfDisk {

  def load(spark: SparkSession, path: String): Ivf.IvfIndex = {
    val assigned = spark.read.parquet(s"$path/vectors")
    val centroids = spark.read.parquet(s"$path/centroids")
    val k = centroids.count().toInt
    Ivf.IvfIndex(assigned, centroids, k)
  }

  /** Query the persisted layout; identical semantics to `Ivf.topK` (the
    * partition-pruning join is the same plan — the scan just starts from
    * the pruned parquet layout).
    */
  def topK(spark: SparkSession, path: String,
      queries: org.apache.spark.sql.DataFrame, qidCol: String,
      qvecCol: String, k: Int, nprobes: Int): org.apache.spark.sql.DataFrame =
    Ivf.topK(load(spark, path), queries, qidCol, qvecCol, k, nprobes)
}
