package graft.index

import java.util.concurrent.{CompletionException, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.chunk.Chunker
import graft.embed.HashEmbedder
import graft.graph.Kg
import graft.ingest.FileDiscovery

/** Parquet-backed chunks/vectors tables + the incremental set algebra
  * (SURVEY §2.1 S4-S7, §2.3 J3-J5, §1.3).
  *
  * The reference mutates rows in place (embedding_status state machine,
  * DELETE ... IN batches, UPDATE file_path on moves). Re-expressed here
  * as idempotent snapshot algebra over immutable tables: every "update"
  * is an anti-join + union, and every operation below is a pure
  * DataFrame → DataFrame function until the final write. A change's
  * new rows cost work the size of the change, but the write still
  * rewrites each touched table in FULL through a staging swap
  * ([[overwriteSafe]]); rewriting only the file buckets a change
  * touches is ROADMAP direction 4.
  *
  * A change set ([[applyChanges]]) stages every table it rewrites
  * first, concurrently, and swaps them in only after each stage has
  * finished, in the order that lets a retry repair a cut batch.
  */
object IndexStore {

  def write(df: DataFrame, path: String, partitions: Int = 0): Unit = {
    val out = if (partitions > 0) df.repartition(partitions) else df
    out.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Overwrite `path` with a plan that may READ from `path`: [[stage]],
    * then [[swap]]. Depending on `.cache()` retention to make
    * read-and-overwrite safe is a race (the write job may recompute a
    * partition from the source being deleted); staging + rename makes
    * the update atomic-ish and self-consistent regardless of caching.
    * [[applyChanges]] runs the two halves apart: every table's stage,
    * then every swap.
    */
  def overwriteSafe(spark: SparkSession, df: DataFrame, path: String): Unit = {
    stage(df, path)
    swap(spark, path)
  }

  /** The Spark job of [[overwriteSafe]]: write `df` to the staging
    * directory of `path`. The live table stays as it was, so any plan
    * that reads it stays valid until the [[swap]].
    */
  private def stage(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(staging(path))

  /** Driver metadata only: replace `path` with its staged table (delete,
    * rename) and drop what Spark cached of the old files.
    */
  private def swap(spark: SparkSession, path: String): Unit = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    fs.rename(new Path(staging(path)), hp)
    spark.catalog.refreshByPath(path)
  }

  private def staging(path: String): String = path + "._staging"

  /** Runs `stages` at once, one pool thread each, every thread carrying
    * the caller's Spark local properties (job group, tags, active
    * session) so their jobs count and cancel with the caller's. Waits
    * for every stage, then rethrows the first failure in `stages` order;
    * the threads have ended when this returns or throws.
    */
  private def concurrently(spark: SparkSession)(stages: (() => Unit)*): Unit = {
    val threads = ArrayBuffer.empty[Thread]
    val pool = Executors.newFixedThreadPool(stages.size, (r: Runnable) =>
      threads.synchronized { val t = new Thread(r, "index-stage"); threads += t; t })
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      stages.map(s => SQLExecution.withThreadLocalCaptured(session, pool)(s()))
        .flatMap(f => Try(f.join()).failed.toOption).headOption.foreach {
          case e: CompletionException if e.getCause != null => throw e.getCause
          case e => throw e
        }
    } finally {
      pool.shutdown()
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }

  /** Read an index table with no Spark job: the schema comes from
    * [[footerSchema]] on the driver, where `spark.read.parquet` would
    * infer it in a job. A table without one (another Parquet writer, a
    * partitioned layout, an unreadable footer) falls back to that
    * inference, which also raises the usual error for a missing path.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The schema Spark's Parquet writer recorded as JSON in the footer
    * (`org.apache.spark.sql.parquet.row.metadata`) of the first data
    * file by name directly under `path`, or of `path` itself. Spark's
    * inference also reads one file's footer unless `mergeSchema` is
    * set; every writer here writes a whole table in one schema. None
    * for a missing path, no data file, subdirectories or no such key.
    * The read options come from the session's Hadoop conf: without them
    * Parquet builds a fresh `Configuration`, which parses Hadoop's XML
    * defaults again on every call (7–15 ms a call, against 0.3–1.9 ms).
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new Path(path)
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    Try {
      val fs = hp.getFileSystem(conf)
      val st = fs.getFileStatus(hp)
      val entries = if (st.isDirectory) fs.listStatus(hp).filterNot(e => hidden(e.getPath))
        else Array(st)
      if (entries.exists(_.isDirectory)) None
      else entries.map(_.getPath).sortBy(_.getName).headOption.flatMap { f =>
        Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
            HadoopReadOptions.builder(conf).build())) { r =>
          Option(r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
        }
      }.map(DataType.fromJson).collect { case s: StructType => s }
    }.toOption.flatten
  }

  /** Additive schema evolution on read (`vectors_backend.py:182-215`
    * `_evolve_schema_if_needed`): columns in `target` missing from the
    * stored table are added as typed nulls; columns whose type CHANGED
    * are rejected (the reference only ever adds, never mutates);
    * existing columns beyond `target` are preserved. A round-1 table is
    * therefore readable by a round-3 reader without a rewrite.
    */
  def readEvolved(spark: SparkSession, path: String,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val df = read(spark, path)
    val existing = df.schema.map(f => f.name -> f.dataType).toMap
    val conflicts = target.fields.flatMap { f =>
      existing.get(f.name).collect {
        case dt if dt != f.dataType => s"${f.name}: $dt -> ${f.dataType}"
      }
    }
    require(conflicts.isEmpty,
      s"schema evolution is additive-only; type changes rejected: ${conflicts.mkString(", ")}")
    target.fields.filterNot(f => existing.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Evolve-on-write: append `rows` to the table at `path`, widening
    * BOTH sides to the union schema with typed nulls (additive-only —
    * type changes rejected as in `readEvolved`). Missing table → plain
    * write.
    */
  def appendEvolved(spark: SparkSession, rows: DataFrame, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) {
      rows.write.mode(SaveMode.Overwrite).parquet(path)
    } else {
      val stored = readEvolved(spark, path, rows.schema)
      val newCols = stored.columns.filterNot(rows.columns.contains)
      val widened = newCols.foldLeft(rows)((d, c) =>
        d.withColumn(c, lit(null).cast(stored.schema(c).dataType)))
      overwriteSafe(spark, stored.unionByName(widened), path)
    }
  }

  /** S4 compaction: rewrite a table into ~targetBytes files (the
    * reference compacts every ~20k appended rows,
    * `chunks_backend.py:553-605`; here it is one repartition rewrite,
    * to be scheduled after heavy append phases). The rewrite reads the
    * table it replaces, so it goes through [[overwriteSafe]].
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val size = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    val parts = math.max(1, (size / targetBytes).toInt)
    overwriteSafe(spark, read(spark, path).repartition(parts), path)
  }

  /** Upsert semantics of `vectors_backend.py:482-677` (delete same ids,
    * then append) without the delete: keep stored rows whose key is not
    * in the incoming batch, union the batch.
    */
  def upsert(stored: DataFrame, incoming: DataFrame, key: String): DataFrame =
    stored.join(incoming.select(key).distinct(), Seq(key), "left_anti")
      .unionByName(incoming)

  /** Delete-by-file-set (`chunks_backend.py:943-1007`): one anti-join, no
    * IN-batching needed.
    */
  def deleteByFiles(stored: DataFrame, staleFiles: DataFrame): DataFrame =
    stored.join(staleFiles.select("file_path"), Seq("file_path"), "left_anti")

  /** Change detection (J4, `indexer.py:581-639`): disk files whose hash is
    * absent or different in the stored table. Output = disk rows to
    * (re)index.
    */
  def changedFiles(disk: DataFrame, stored: DataFrame): DataFrame =
    disk.join(storedHashes(stored), Seq("file_path"), "left")
      .filter(changed)
      .drop("stored_hash", "n_hashes")

  /** ONE row per stored file (a duplicate would fan out the disk row and
    * double-chunk the file): its greatest hash and its number of hashes.
    */
  private def storedHashes(stored: DataFrame): DataFrame =
    stored.groupBy(col("file_path")).agg(
      org.apache.spark.sql.functions.max(col("file_hash")).as("stored_hash"),
      countDistinct(col("file_hash")).as("n_hashes"))

  /** A disk file with no stored hash, a different one, or MIXED stored
    * hashes (torn partial update, which always reindexes).
    */
  private val changed = col("stored_hash").isNull || col("n_hashes") > 1 ||
    col("stored_hash") =!= col("file_hash")

  /** How many files [[changedFiles]] and [[deletedFiles]] name together,
    * from one aggregate over one full outer join, so `disk` is derived
    * once.
    */
  def staleFileCount(disk: DataFrame, stored: DataFrame): Long =
    disk.withColumn("on_disk", lit(true))
      .join(storedHashes(stored), Seq("file_path"), "full_outer")
      .agg(count(when(col("on_disk").isNull || changed, 1)))
      .head().getLong(0)

  /** Deleted files (stored paths no longer on disk). */
  def deletedFiles(disk: DataFrame, stored: DataFrame): DataFrame =
    stored.select("file_path").distinct()
      .join(disk.select("file_path").distinct(), Seq("file_path"), "left_anti")

  /** File-move detection (J5, `indexer.py:594-618`): a stored path that
    * vanished whose hash reappears at a new disk path. Output:
    * (old_path, new_path, file_hash) — apply as a metadata-only path
    * rewrite (S7), skipping re-embedding.
    */
  def movedFiles(disk: DataFrame, stored: DataFrame): DataFrame = {
    val gone = deletedFiles(disk, stored)
      .join(stored.select(col("file_path"), col("file_hash")).distinct(), Seq("file_path"))
      .select(col("file_path").as("old_path"), col("file_hash"))
    val fresh = changedFiles(disk, stored)
      .select(col("file_path").as("new_path"), col("file_hash"))
    gone.join(fresh, Seq("file_hash"))
      .select(col("old_path"), col("new_path"), col("file_hash"))
  }

  /** In-place path rewrite for moves (S7 semantics) as a column rewrite. */
  def applyMoves(stored: DataFrame, moves: DataFrame): DataFrame =
    stored
      .join(moves.select(col("old_path").as("file_path"), col("new_path")),
        Seq("file_path"), "left")
      .withColumn("file_path", coalesce(col("new_path"), col("file_path")))
      .drop("new_path")

  /** The vectors-table rows for `chunks`, one per chunk and in its
    * partitioning: each chunk's context text hash-embedded by a
    * row-local projection, denormalized with the chunk fields search
    * returns so search runs join-free (`vectors_backend.py:52` "avoid
    * JOINs").
    */
  def vectorsOf(chunks: DataFrame): DataFrame =
    chunks.select(col("chunk_id"),
      HashEmbedder.vector(HashEmbedder.contextText(col("file_path"),
        col("language"), col("name"), col("content"))).as("vector"),
      col("file_path"), col("content"), col("language"), col("start_line"),
      col("end_line"), col("chunk_type"), col("name"), col("hierarchy_path"))

  /** Apply one change set to the index tables (SURVEY §7 step 3; the
    * reference's delete-then-append upsert, `vectors_backend.py:482-677`):
    * drop the rows of every `replaced` path, rewrite `moves`
    * (old_path → new_path) in place (S7: the moved rows keep their
    * chunk ids and vectors), append `newChunks` and their vectors. With
    * `kgPath`, the KG tables under it get the same change through
    * [[graft.graph.Kg.differentialUpdate]]. Each table is written back
    * in at most as many files as it had, so repeated batches do not
    * grow the file count.
    *
    * `newChunks` is collected once (it is change-sized), and every
    * table builds its new rows from that one local relation. Then every
    * table is staged ([[overwriteSafe]]'s Spark half) at once: vectors,
    * chunks, and the KG, whose vertex scan precedes its two concurrent
    * stages. Only when every stage has finished do the swaps run, in
    * this order: vectors, KG edges, KG vertices, chunks. A failed stage
    * swaps nothing: the others finish, every live table keeps its rows,
    * and the failure is rethrown.
    *
    * The swap order governs a failure between swaps. A retry decides
    * what to redo from the chunks table (change detection,
    * [[changedFiles]], reads only it) and, in the KG, from the stored
    * vertices (the ids the delta removes), so each goes after the tables
    * it governs. A batch cut before the chunks swap is then detected
    * again, and the retry lands it on every table, because each table
    * drops the `replaced` paths' rows before it appends.
    *
    * @param stored    the chunks table at `chunksPath`, as the caller
    *                  read it to derive the change
    * @param replaced  paths whose stored rows go: deleted files and
    *                  every re-read file, one that now yields no chunks
    *                  included
    * @param newChunks the re-read files' chunk rows
    * @param chunkRows the chunks table's new rows from the collected
    *                  `newChunks`; runs in the chunks stage, so a lookup
    *                  it needs overlaps the other tables' stages
    */
  def applyChanges(spark: SparkSession, stored: DataFrame, chunksPath: String,
      vectorsPath: String, kgPath: Option[String], replaced: Seq[String],
      moves: Seq[(String, String)], newChunks: DataFrame,
      chunkRows: DataFrame => DataFrame = identity): Unit = {
    import spark.implicits._
    // the one collect of the change: every table builds from this local
    // relation, which also keeps the caller's object-typed flatMap
    // segment away from the union/join optimizer below, where Catalyst
    // can push a Project into it and fail serialization (seen as
    // INTERNAL_ERROR 'object' writer on the KG union path)
    val fresh = spark.createDataFrame(newChunks.collect().toSeq.asJava, newChunks.schema)
    val moved = moves.toDF("old_path", "new_path")
    def stageAs(path: String, table: DataFrame, rows: DataFrame): Unit =
      stage(rows.coalesce(math.max(1, table.inputFiles.length)), path)
    // the replaced paths filter as a literal set (a broadcast of them
    // would cost a job per table); allowMissingColumns: a pre-subproject
    // (round-1 schema) stored table widens with nulls instead of failing
    def merge(path: String, table: DataFrame, rows: DataFrame): Unit =
      stageAs(path, table, applyMoves(table.filter(
          !coalesce(col("file_path").isin(replaced.distinct: _*), lit(false))), moved)
        .unionByName(rows, allowMissingColumns = true))

    // the KG treats a move as a change at its destination (drop the old
    // path, re-chunk the new one): one metadata-scale re-chunk instead
    // of a non-equi id-prefix rewrite
    val kgStage = kgPath.map { kp => () =>
      val kg = Kg.KgTables(read(spark, s"$kp/vertices"), read(spark, s"$kp/edges"))
      val dests = moves.map(_._2).filter(p => new java.io.File(p).isFile)
      val rechunked = if (dests.isEmpty) fresh else fresh.unionByName(
        FileDiscovery.readFiles(spark, dests).flatMap(Chunker.chunkFile _)
          .toDF(), allowMissingColumns = true)
      // the update's delta is local, so neither write plan reads the
      // other table's path
      val updated = Kg.differentialUpdate(kg, rechunked, replaced ++ moves.map(_._1))
      concurrently(spark)(
        () => stageAs(s"$kp/edges", kg.edges, updated.edges),
        () => stageAs(s"$kp/vertices", kg.vertices, updated.vertices))
    }
    concurrently(spark)(Seq(
      () => merge(vectorsPath, read(spark, vectorsPath), vectorsOf(fresh)),
      () => merge(chunksPath, stored, chunkRows(fresh))) ++ kgStage: _*)
    // chunks last (see the Scaladoc): change detection reads only this
    // table, so a batch cut after its swap would never be retried
    (vectorsPath +: kgPath.toSeq.flatMap(kp => Seq(s"$kp/edges", s"$kp/vertices")) :+
      chunksPath).foreach(swap(spark, _))
  }

  /** Unembedded chunks (J3, `vectors_backend.py:1355-1397`): in chunks
    * table but not in vectors table — this replaces the reference's
    * embedding_status state machine entirely.
    */
  def unembedded(chunks: DataFrame, vectors: DataFrame): DataFrame =
    chunks.join(vectors.select("chunk_id").distinct(), Seq("chunk_id"), "left_anti")
}
