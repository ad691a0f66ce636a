package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.chunk.Chunker
import graft.index.IndexStore
import graft.ingest.FileDiscovery

/** Streaming incremental reindex (SURVEY §2.9 ST1-ST5).
  *
  * The reference watches the filesystem with watchdog callbacks, a 2s
  * debounce buffer, and per-event mutation of the stores
  * (`core/watcher.py`). Spark-first: change notifications become an
  * event *stream* (file_path, event_type, ts); each micro-batch is
  * debounced relationally (last event per file wins — exactly the
  * reference's coalescing buffer) and applied as one idempotent
  * set-algebra transaction (delete → rechunk → re-embed → upsert) via
  * `foreachBatch`. The trigger interval IS the debounce window.
  */
object WatchStream {

  final case class FileEvent(file_path: String, event_type: String,
      ts: Timestamp, dest_path: String = null)

  /** ST2 debounce: last event per file within the micro-batch
    * (watcher.py:88-120 "collect pending changes, flush after quiet").
    */
  def latestEventPerFile(batch: DataFrame): DataFrame = {
    val withDest =
      if (batch.columns.contains("dest_path")) batch
      else batch.withColumn("dest_path", lit(null).cast("string"))
    withDest.groupBy(col("file_path"))
      .agg(
        max_by(col("event_type"), col("ts")).as("event_type"),
        max_by(col("dest_path"), col("ts")).as("dest_path"))
  }

  /** ST3: apply one debounced micro-batch to the chunks/vectors tables —
    * and, when `kgPath` is given, to the knowledge-graph tables via the
    * differential rebuild (issue #108): only the batch's files are
    * deleted/re-added; the rest of the graph is untouched.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame,
      chunksPath: String, vectorsPath: String,
      kgPath: Option[String] = None): Unit = {
    import spark.implicits._
    // the debounced batch is metadata-scale: one row per touched file
    val events = latestEventPerFile(batch)
      .as[(String, String, String)].collect()
    val deleted = events.collect { case (p, "deleted", _) => p }
    // move = metadata-only path rewrite (reference watcher.py:218-360),
    // no re-chunk/re-embed
    val moves = events.collect { case (p, "moved", d) if d != null => (p, d) }
    val touched = events.collect {
      case (p, "created" | "modified", _) if new java.io.File(p).isFile => p
    }
    val rechunked = FileDiscovery.readFiles(spark, touched.toSeq)
      .flatMap(Chunker.chunkFile _).toDF()
    // streamed re-chunks inherit the file's known subproject from the
    // stored table (no full listing in a micro-batch to re-detect
    // from), looked up for the touched paths only; brand-new files get
    // it on the next incremental pass
    val stored = IndexStore.read(spark, chunksPath)
    val newChunks =
      if (stored.columns.contains("subproject_name")) {
        val sub = element_at(typedlit(stored
          .filter(col("file_path").isin(touched.toSeq: _*))
          .select("file_path", "subproject_name", "subproject_path")
          .as[(String, String, String)].collect()
          .map { case (p, name, path) => p -> (name, path) }.toMap), col("file_path"))
        rechunked.withColumn("subproject_name", sub("_1"))
          .withColumn("subproject_path", sub("_2"))
      } else rechunked
    IndexStore.applyChanges(spark, stored, chunksPath, vectorsPath, kgPath,
      (deleted ++ touched).toSeq, moves.toSeq, newChunks)
  }

  /** Wire an event stream into the debounced reindex sink. The trigger
    * period plays the role of the reference's 2 s debounce window.
    */
  def start(events: DataFrame, chunksPath: String, vectorsPath: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          applyBatch(batch.sparkSession, batch, chunksPath, vectorsPath)
        }
      }
      .start()

  /** ST4 search-triggered staleness check (`core/auto_indexer.py`):
    * count changed files cheaply; caller reindexes when under threshold.
    */
  def staleFileCount(spark: SparkSession, root: String, chunksPath: String): Long = {
    val disk = FileDiscovery.discover(spark, root).toDF()
    val stored = IndexStore.read(spark, chunksPath)
    IndexStore.changedFiles(disk, stored).count() +
      IndexStore.deletedFiles(disk, stored).count()
  }

  /** Windowed event-rate analytics with watermarking (the reference has
    * no late-data semantics — this is the Spark-native upgrade for the
    * story/analytics stream at scale).
    */
  def eventRates(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
}
