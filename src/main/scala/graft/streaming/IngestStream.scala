package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup

/** Streaming dedup-gated corpus ingestion: the continuous flavor of the
  * ic1 batch operator. Each micro-batch of incoming documents is
  * verdicted against the PERSISTED corpus dedup index (band probe +
  * candidate-routed exact-Jaccard verify — the corpus itself is never
  * rescanned) plus earlier documents of the same batch; kept documents
  * are appended to the corpus AND to the index's shingle/band tables,
  * so every later batch deduplicates against everything kept so far.
  * Rejected documents land in a rejects table with their best match.
  *
  * State lives in persisted tables, not the streaming state store:
  * dedup state is corpus-scale (every shingle of every kept doc), far
  * beyond what `mapGroupsWithState` should hold, and the shingle/band
  * tables double as the batch-side dedup index (the d3 gates' one) — one
  * artifact, both execution modes. On a cluster the appends would go
  * through the staging+swap pattern (`IndexStore`) for atomicity; the
  * batch is verdict-materialized (eager localCheckpoint) BEFORE any
  * append so a batch can never dedup against its own writes.
  */
object IngestStream {

  final case class IncomingDoc(doc_id: Long, text: String)

  /** Seed the corpus + dedup-index tables from an initial corpus
    * (overwrite). Batches then grow all three via `applyBatch`.
    */
  def initIndex(spark: SparkSession, corpus: DataFrame, corpusPath: String,
      shinglesPath: String, bandsPath: String, k: Int, numHashes: Int,
      rowsPerBand: Int): Unit = {
    corpus.select("doc_id", "text").write.mode("overwrite").parquet(corpusPath)
    val onDisk = spark.read.parquet(corpusPath)
    Dedup.docShingles(onDisk, "text", "doc_id", k)
      .write.mode("overwrite").parquet(shinglesPath)
    Dedup.lshBands(
        Dedup.minhashSignatures(spark.read.parquet(shinglesPath), numHashes),
        rowsPerBand)
      .write.mode("overwrite").parquet(bandsPath)
  }

  /** One micro-batch: verdict, reject, append. Exposed for testing and
    * for batch-mode replay of a backlog.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, corpusPath: String,
      shinglesPath: String, bandsPath: String, rejectsPath: String,
      k: Int, numHashes: Int, rowsPerBand: Int, minJaccard: Double): Unit = {
    if (batch.isEmpty) return
    val docs = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
    val pairs = Dedup.incrementalNearDups(docs,
      spark.read.parquet(shinglesPath), spark.read.parquet(bandsPath),
      "text", "doc_id", k, numHashes, rowsPerBand)
    // eager materialization: every downstream action must see the index
    // as it was BEFORE this batch's appends
    val verdicts = Dedup.ingestVerdicts(docs, pairs, "doc_id", minJaccard)
      .localCheckpoint(true)
    verdicts.filter(col("is_dup"))
      .select(col("new_id"), col("best_match"), col("best_jaccard"),
        col("n_cands"))
      .write.mode("append").parquet(rejectsPath)
    val kept = docs.join(
        verdicts.filter(!col("is_dup")).select(col("new_id").as("doc_id")),
        Seq("doc_id"))
      .localCheckpoint(true)
    val sh = Dedup.docShingles(kept, "text", "doc_id", k).localCheckpoint(true)
    kept.write.mode("append").parquet(corpusPath)
    sh.write.mode("append").parquet(shinglesPath)
    Dedup.lshBands(Dedup.minhashSignatures(sh, numHashes), rowsPerBand)
      .write.mode("append").parquet(bandsPath)
  }

  /** Wire a stream of documents into the per-batch ingest. */
  def start(docs: DataFrame, corpusPath: String, shinglesPath: String,
      bandsPath: String, rejectsPath: String, k: Int, numHashes: Int,
      rowsPerBand: Int, minJaccard: Double, trigger: Trigger): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, batch, corpusPath, shinglesPath,
          bandsPath, rejectsPath, k, numHashes, rowsPerBand, minJaccard)
      }
      .start()
}
