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
  * debounced after a collect (last event per file wins — exactly the
  * reference's coalescing buffer) and applied as one idempotent
  * set-algebra transaction (delete → rechunk → re-embed → upsert) via
  * `foreachBatch`. The trigger interval IS the debounce window.
  */
object WatchStream {

  final case class FileEvent(file_path: String, event_type: String,
      ts: Timestamp, dest_path: String = null)

  /** ST2 debounce: the last event per file within the micro-batch
    * (watcher.py:88-120 "collect pending changes, flush after quiet"),
    * sorted by path. A batch holds one row per file-system event, so it
    * is collected and folded in memory, with no Spark aggregation.
    * Of events on equal `ts`, whatever the row order, one that re-reads
    * the file (`modified`, then `created`) wins, since [[applyBatch]]
    * then acts on the file as it is on disk; then `moved`, then
    * `deleted`; then the greater `dest_path` (null lowest). A null `ts`
    * sorts before every other.
    */
  def latestEventPerFile(batch: DataFrame): Seq[FileEvent] = {
    import batch.sparkSession.implicits._
    val withDest =
      if (batch.columns.contains("dest_path")) batch
      else batch.withColumn("dest_path", lit(null).cast("string"))
    val rank = Seq("deleted", "moved", "created", "modified")
    val order = Ordering.by((e: FileEvent) => (Option(e.ts).map(t => (t.getTime, t.getNanos)),
      rank.indexOf(e.event_type), Option(e.event_type), Option(e.dest_path)))
    withDest.select("file_path", "event_type", "ts", "dest_path").as[FileEvent]
      .collect().groupBy(_.file_path).values.map(_.max(order)).toSeq.sortBy(_.file_path)
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
    val events = latestEventPerFile(batch)
    val deleted = events.collect { case FileEvent(p, "deleted", _, _) => p }
    // move = metadata-only path rewrite (reference watcher.py:218-360),
    // no re-chunk/re-embed
    val moves = events.collect { case FileEvent(p, "moved", _, d) if d != null => (p, d) }
    // a created or modified file that is gone by now loses its rows,
    // as a deleted one does
    val reread = events.collect { case FileEvent(p, "created" | "modified", _, _) => p }
    val touched = reread.filter(p => new java.io.File(p).isFile)
    val rechunked = FileDiscovery.readFiles(spark, touched)
      .flatMap(Chunker.chunkFile _).toDF()
    // streamed re-chunks inherit the file's known subproject from the
    // stored table (no full listing in a micro-batch to re-detect
    // from), looked up for the touched paths only, in the chunks stage;
    // brand-new files get it on the next incremental pass
    val stored = IndexStore.read(spark, chunksPath)
    def inherit(fresh: DataFrame): DataFrame =
      if (stored.columns.contains("subproject_name")) {
        val sub = element_at(typedlit(stored
          .filter(col("file_path").isin(touched: _*))
          .select("file_path", "subproject_name", "subproject_path")
          .as[(String, String, String)].collect()
          .map { case (p, name, path) => p -> (name, path) }.toMap), col("file_path"))
        fresh.withColumn("subproject_name", sub("_1"))
          .withColumn("subproject_path", sub("_2"))
      } else fresh
    IndexStore.applyChanges(spark, stored, chunksPath, vectorsPath, kgPath,
      deleted ++ reread, moves, rechunked, inherit)
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
    * count changed and deleted files with one discovery scan; caller
    * reindexes when under threshold.
    */
  def staleFileCount(spark: SparkSession, root: String, chunksPath: String): Long =
    IndexStore.staleFileCount(FileDiscovery.discover(spark, root).toDF(),
      IndexStore.read(spark, chunksPath))

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
