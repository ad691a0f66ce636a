package graft.embed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AsciiText, PortableMd5}

/** Deterministic embedding (SURVEY §7 design stance): a seeded hash-n-gram
  * featurizer — HashingTF-style bucket projection of word unigrams +
  * bigrams, L2-normalized — so cosine results are exactly reproducible
  * and oracle-checkable. Swapping in a real model later means replacing
  * this object behind the same (id, text) → (id, vector) contract
  * (reference's pluggable embedding functions, `embeddings.py:1078-1113`).
  *
  * Row-local: a text's vector is a function of that text alone
  * ([[embedLocal]], counted with integers, so it does not depend on gram
  * order). Embedding a table is one projection, with the same values for
  * any partitioning, and a query embeds on the driver with the same body.
  *
  * Context enrichment (reference `core/context_builder.py`, the 35-49%
  * retrieval win): prepend a "path | language | name" header to the text
  * before featurizing — done by `contextText`.
  */
object HashEmbedder {

  def contextText(path: Column, language: Column, name: Column, content: Column): Column =
    concat_ws(" | ", path, language, name, content)

  /** The vector array<float>[64] of a text column, null for a null
    * text: [[embedLocal]] as a row-local UDF.
    */
  def vector(text: Column): Column = embedUdf(text)

  private val embedUdf = udf((text: String) =>
    if (text == null) null else embedLocal(text)).withName("graft_hash_embed")

  /** (id, vector array<float>[64]) from (idCol, textCol), one row per
    * row of `docs` whose text is not null.
    */
  def embed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), vector(col(textCol)).as("vector"))

  /** The featurizer, one text at a time: the body of [[embed]] and the
    * query-side embed. [[graft.functions.AsciiText.normalize]] → split on
    * single spaces → every unigram and word bigram → bucket
    * `hash60("7", gram) mod 64` → integer counts → L2-normalize (a left
    * fold in bucket order, one double divide, one float round), the chain
    * the DuckDB mirror `SearchPack.embedPipelineCtes` spells out. Search
    * builds its query vectors with it at plan time, so a probe plan
    * against the persisted corpus vectors contains ZERO featurizer
    * stages — the reference's query embed is likewise a single local
    * model call (`embeddings.py:1078-1113`), never a corpus job.
    */
  def embedLocal(text: String): Array[Float] = {
    // tokens are joined by single spaces ("" is one empty token), so the
    // bigram "a b" is the byte range from the start of a to the end of b
    val b = AsciiText.normalize(UTF8String.fromString(text)).getBytes
    val raw = new Array[Double](64)
    def count(from: Int, until: Int): Unit = raw((PortableMd5.low60Seeded(Seed,
      UTF8String.fromBytes(b, from, until - from)) % 64).toInt) += 1.0
    var (start, prev) = (0, -1)
    for (i <- 0 to b.length if i == b.length || b(i) == ' ') {
      count(start, i)
      if (prev >= 0) count(prev, i)
      prev = start
      start = i + 1
    }
    val n = math.sqrt(raw.foldLeft(0.0d)((acc, x) => acc + x * x))
    raw.map(x => if (n > 0) (x / n).toFloat else 0.0f)
  }

  private val Seed = "7:".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** S12 embedding cache: a Parquet KV table keyed by sha2(text). Cached
    * rows skip featurization (a left join, not an LRU — the reference's
    * disk cache `embeddings.py:284-404` re-expressed); misses are embedded
    * and appended back. With a real model behind the Embedder contract
    * this is the operator that saves the GPU pass.
    */
  def embedWithCache(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      idCol: String, textCol: String, cachePath: String): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"), col(textCol).as("text"),
      sha2(col(textCol), 256).as("content_sha"))
    // explicit existence probe + listing refresh: under Spark 4's lazy
    // analysis a try/catch around `read.parquet` never fires (the
    // missing-path failure is stored and rethrown at the first action,
    // far from any handler), and a caller that deleted the path leaves
    // a stale shared FileStatusCache listing behind
    val hPath = new org.apache.hadoop.fs.Path(cachePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val cache: DataFrame =
      if (fs.exists(hPath)) {
        spark.catalog.refreshByPath(cachePath)
        spark.read.parquet(cachePath)
      } else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "content_sha STRING, vector ARRAY<FLOAT>"))
    val misses = keyed.join(cache.select("content_sha"), Seq("content_sha"), "left_anti")
    // dedup WITHIN the miss batch only (two miss docs can share a text
    // → one sha); the anti-join already guarantees no overlap with the
    // stored cache, so new rows APPEND — a warm pass rewrites miss-sized
    // bytes, not the whole (corpus-sized at 100 TB) cache
    val newRows = embed(misses, "content_sha", "text")
      .select(col("id").as("content_sha"), col("vector"))
      .dropDuplicates("content_sha")
    if (fs.exists(hPath))
      newRows.write.mode("append").parquet(cachePath)
    else
      graft.index.IndexStore.overwriteSafe(spark, newRows, cachePath)
    // after the swap every requested row is a cache hit; serve the result
    // from the fresh listing — a pre-swap `hits` plan would hold the old
    // (deleted) file list. Defensive dedup (ADVICE r8): append mode no
    // longer carries the staging+swap uniqueness guarantee, so a failed/
    // retried or concurrent run can leave duplicate shas in the store —
    // and every stored vector for one sha is identical (deterministic
    // featurizer of the text the sha names), so any-per-id is exact,
    // not a choice among variants. Dedup the REQUEST-sized join output
    // by id — never the corpus-sized cache (that would be a full-cache
    // shuffle on every serve).
    spark.catalog.refreshByPath(cachePath)
    keyed.join(spark.read.parquet(cachePath), Seq("content_sha"))
      .select(col("id"), col("vector"))
      .dropDuplicates("id")
  }
}
