package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IndexStats / ProjectStatus / HealthStatus (`core/models.py:559-586`,
  * `:36-73`, `:11-33`) as aggregation jobs over the stored tables. The
  * reference caches these with a 30 s TTL; here each is one cheap
  * aggregate over Parquet footers/columns and callers cache the result
  * DataFrame if they poll.
  */
object Stats {

  final case class IndexStats(
      total_chunks: Long,
      total_files: Long,
      embedded_chunks: Long,
      unembedded_chunks: Long,
      languages: Map[String, Long],
      chunk_types: Map[String, Long])

  def indexStats(chunks: DataFrame, vectors: DataFrame): IndexStats = {
    val embedded = chunks.join(vectors.select("chunk_id"), Seq("chunk_id"), "left_semi").count()
    val total = chunks.count()
    val langs = chunks.groupBy("language").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val types = chunks.groupBy("chunk_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    IndexStats(
      total_chunks = total,
      total_files = chunks.select("file_path").distinct().count(),
      embedded_chunks = embedded,
      unembedded_chunks = total - embedded,
      languages = langs,
      chunk_types = types)
  }

  final case class HealthStatus(
      healthy: Boolean,
      issues: Seq[String])

  /** Health check: structural invariants of the two tables (the
    * reference's corruption checks re-expressed as assertions a scan can
    * verify).
    */
  def health(chunks: DataFrame, vectors: DataFrame, expectedDim: Int): HealthStatus = {
    val issues = scala.collection.mutable.ListBuffer.empty[String]
    val dupIds = chunks.groupBy("chunk_id").count().filter(col("count") > 1).count()
    if (dupIds > 0) issues += s"$dupIds duplicate chunk_ids"
    val badDim = vectors.filter(size(col("vector")) =!= expectedDim).count()
    if (badDim > 0) issues += s"$badDim vectors with wrong dimension"
    val orphans = vectors.join(chunks.select("chunk_id"), Seq("chunk_id"), "left_anti").count()
    if (orphans > 0) issues += s"$orphans orphan vectors"
    val badLines = chunks.filter(col("end_line") < col("start_line")).count()
    if (badLines > 0) issues += s"$badLines chunks with inverted line ranges"
    HealthStatus(issues.isEmpty, issues.toSeq)
  }
}
