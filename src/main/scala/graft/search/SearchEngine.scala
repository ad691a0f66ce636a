package graft.search

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.chunk.Chunker
import graft.core.FileRecord
import graft.embed.HashEmbedder
import graft.functions.VectorFunctions
import graft.index.IndexStore
import graft.ingest.FileDiscovery

/** End-to-end engine facade — the reference's `SemanticIndexer` +
  * `SemanticSearchEngine` (SURVEY §3.1/§3.2) as one lazily-composed
  * DataFrame pipeline per query.
  *
  * Index side: discovery scan → flatMap chunker → hash-featurizer embed →
  * chunks/vectors Parquet. The reference's producer/consumer asyncio
  * pipeline, process pools, and memory monitor all collapse into Spark
  * stage pipelining (SURVEY §3.2 note).
  *
  * Search side: each query runs a fixed handful of Spark jobs, whatever
  * the corpus size. Vector = cosine + threshold + top-k over the
  * vectors table (one job). Keyword = 3-pass tokenizer + BM25: one
  * aggregate gives the corpus statistics (N, Σdl, the query terms' df),
  * the query's idf is computed on the driver, then one row-local
  * scoring pass. Hybrid = three jobs over the vectors table alone: the
  * vector top-k scan also gathers the BM25 statistics through
  * `Dataset.observe`, one BM25 scoring pass, and the render of the
  * ≤ 4·limit collected rows, fused by RRF with identifier-aware alpha
  * on the driver, boosted (Q15) and cut to the top-k. The per-query
  * numbers reach Spark in closures (UDFs, the statistics aggregator),
  * not as literals inlined into generated code, so a new query
  * compiles no class.
  */
class SearchEngine(spark: SparkSession) {
  import spark.implicits._

  /** Index a repository root into chunks+vectors DataFrames. Every chunk
    * carries subproject_name/subproject_path (`models.py:247-248`) from
    * the monorepo detector over the same discovery listing.
    */
  def buildIndex(root: String): (DataFrame, DataFrame) = {
    val files = FileDiscovery.discover(spark, root)
    val subprojects = graft.ingest.Monorepo.subprojects(
      files.toDF().select(col("file_path"), col("content")))
    val chunks = graft.ingest.Monorepo.withSubproject(
      files.flatMap(Chunker.chunkFile _).toDF(), subprojects)
    (chunks, IndexStore.vectorsOf(chunks))
  }

  /** Full index build. Discovery and chunking run once: the vectors
    * are embedded from the chunks table just written, in its file
    * layout. When `relatedPath` is set, the precomputed related_chunks
    * artifact is produced from the persisted tables too (the reference
    * computes it at index time so the visualizer starts instantly —
    * `core/relationships.py:143-238`).
    */
  def indexRepo(root: String, chunksPath: String, vectorsPath: String,
      relatedPath: Option[String] = None): Unit = {
    IndexStore.write(buildIndex(root)._1, chunksPath)
    val chunks = IndexStore.read(spark, chunksPath)
    IndexStore.write(IndexStore.vectorsOf(chunks), vectorsPath)
    relatedPath.foreach { p =>
      graft.graph.Relationships.write(spark, graft.graph.Relationships.build(
        chunks, IndexStore.read(spark, vectorsPath), vecCol = "vector"), p)
    }
  }

  /** Incremental reindex: only changed files re-chunk/re-embed, deletes
    * and moves handled by set algebra (SURVEY §7 step 3). The change set
    * is derived once from the discovery scan and collected: file paths,
    * proportional to the change, not to the chunk rows. The re-read
    * files' chunk rows are collected once more in
    * [[IndexStore.applyChanges]], which stages both tables at once and
    * swaps them only when both are staged.
    */
  def incrementalIndex(root: String, chunksPath: String, vectorsPath: String): Unit = {
    val disk = FileDiscovery.discover(spark, root).toDF()
    val stored = IndexStore.read(spark, chunksPath)
    // each changed path, flagged when it has stored rows
    val changed = IndexStore.changedFiles(disk, stored)
      .join(stored.select(col("file_path"), lit(true).as("stored")).distinct(),
        Seq("file_path"), "left")
      .select(col("file_path"), col("file_hash"), col("stored").isNotNull)
      .as[(String, String, Boolean)].collect()
    val gone = IndexStore.deletedFiles(disk, stored)
      .join(stored.select("file_path", "file_hash").distinct(), Seq("file_path"))
      .as[(String, String)].collect()
    // J5 on the collected sets, stricter than IndexStore.movedFiles'
    // hash-only join: a move lands only on a path with no stored rows
    // (content written over an existing file is an edit of that file),
    // and within one hash gone and fresh paths pair one-to-one in sorted
    // order (further copies of the content are re-read, not moved)
    val fresh = changed.collect { case (p, h, false) => (p, h) }
      .groupMap(_._2)(_._1)
    val moves = gone.groupMap(_._2)(_._1).toSeq.flatMap { case (h, from) =>
      from.sorted.zip(fresh.getOrElse(h, Array.empty[String]).sorted)
    }
    val reread = (changed.map(_._1).toSet -- moves.map(_._2)).toSeq
    val deleted = gone.map(_._1).toSet -- moves.map(_._1)
    // the full disk listing is in hand, so changed chunks get their
    // subproject assignment exactly as a full build would
    val newChunks = graft.ingest.Monorepo.withSubproject(
      disk.join(broadcast(reread.toDF("file_path")), Seq("file_path"), "left_semi")
        .as[FileRecord].flatMap(Chunker.chunkFile _).toDF(),
      graft.ingest.Monorepo.subprojects(disk.select(col("file_path"), col("content"))))
    IndexStore.applyChanges(spark, stored, chunksPath, vectorsPath, None,
      deleted.toSeq ++ reread, moves.toSeq, newChunks)
  }

  /** Embed a query string with the exact corpus featurizer — driver-side
    * (embedLocal runs the corpus featurizer's own body, ParitySpec), so a
    * query embed never schedules a Spark job.
    */
  def embedQuery(query: String): Array[Float] =
    HashEmbedder.embedLocal(query)

  /** Vector search over a vectors DataFrame. */
  def vectorSearch(vectors: DataFrame, query: String, limit: Int,
      threshold: Option[Double] = None): DataFrame =
    Fusion.ranked(similar(vectors, query, threshold),
      "chunk_id", "similarity_score", limit)

  /** `vectors` with each row's cosine to the query embedding as
    * `similarity_score`, below-threshold rows dropped.
    */
  private def similar(vectors: DataFrame, query: String,
      threshold: Option[Double]): DataFrame = {
    val q = QueryProcessor.preprocess(query)
    val th = threshold.getOrElse(QueryProcessor.adaptiveThreshold(q))
    vectors
      .withColumn("similarity_score",
        VectorFunctions.cosine(col("vector"), typedlit(embedQuery(q))))
      .filter(col("similarity_score") >= th)
  }

  /** A chunk's BM25 text (`bm25_backend.py:88-122`): content, the name
    * twice, file_path and chunk_type. The chunks and vectors tables both
    * carry these columns.
    */
  private val bm25Text =
    concat_ws(" ", col("content"), col("name"), col("name"),
      col("file_path"), col("chunk_type"))

  /** The query's distinct BM25 terms, each with its count in the query. */
  private def queryTerms(query: String): Seq[(String, Int)] =
    Tokenizer.tokenize(QueryProcessor.preprocess(query))
      .groupBy(identity).map { case (t, os) => (t, os.size) }.toSeq

  /** The BM25 statistics of `terms` as one aggregate over the BM25 text:
    * N (chunks with at least one token), Σdl, then each term's df.
    */
  private def bm25Stats(terms: Seq[String]): Column =
    udaf(new SearchEngine.Bm25Stats(terms)).apply(bm25Text)

  /** BM25Okapi of the BM25 text against the query (k1 = 1.5, b = 0.75,
    * the epsilon floor): the same scores as [[Bm25.score]] without
    * building its index, from the [[bm25Stats]] of the query's terms.
    * None when no query term occurs in the corpus. idf is computed on
    * the driver with `StrictMath.log` (what Spark's `log` runs, so scores
    * stay bit-identical). The vocabulary-wide average idf needs a
    * `groupBy(term)` over every posting of `docs`, so that pass runs only
    * when a query term's raw idf is negative (df > N/2), the one case the
    * floor changes a score. Scoring is row-local: one UDF counts tf in
    * each chunk's tokens. The per-query scalars (terms, qtf·idf, avgdl,
    * and N for the average idf) sit in UDF closures rather than in
    * literals, which Catalyst inlines into the generated code, so a new
    * query reuses the compiled classes.
    */
  private def bm25Score(docs: DataFrame, qtf: Seq[(String, Int)],
      stats: Seq[Long]): Option[Column] = {
    import Bm25.{B, Epsilon, K1}
    val n = stats.head
    // a term no chunk holds adds nothing to any score
    val raw = qtf.zip(stats.drop(2)).filter(_._2 > 0).map { case ((t, k), df) =>
      (t, k, StrictMath.log(n - df + 0.5) - StrictMath.log(df + 0.5)) }
    lazy val avgIdf = docs
      .select(explode(array_distinct(udf(Tokenizer.tokenize _).apply(bm25Text)))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(sum(udf((df: Long) =>
          StrictMath.log(n - df + 0.5) - StrictMath.log(df + 0.5)).apply(col("df"))) /
        count(lit(1)))
      .head().getDouble(0)
    val weights = raw.map { case (t, k, r) =>
      (t, k * (if (r < 0) Epsilon * avgIdf else r)) }
    val avgdl = stats(1).toDouble / n
    Option.when(weights.nonEmpty)(udf { (text: String) =>
      val toks = Tokenizer.tokenize(text)
      val dl = toks.size
      weights.map { case (t, w) =>
        val tf = toks.count(_ == t)
        w * (tf * (K1 + 1)) / (tf + K1 * ((1 - B) + B * dl / avgdl))
      }.reduce(_ + _)
    }.apply(bm25Text))
  }

  /** BM25 keyword search over chunks (corpus = content + 2×name +
    * file_path + chunk_type): one global aggregate gives the
    * [[bm25Stats]], then one row-local scoring pass by [[bm25Score]].
    * Output: (chunk_id, score, rank) for the top `limit` chunks with
    * score > 0.
    */
  def keywordSearch(chunks: DataFrame, query: String, limit: Int): DataFrame = {
    val qtf = queryTerms(query)
    val score = Option.when(qtf.nonEmpty)(
        chunks.agg(bm25Stats(qtf.map(_._1))).head().getSeq[Long](0))
      .flatMap(bm25Score(chunks, qtf, _))
    val scored = chunks.select(col("chunk_id"),
      score.getOrElse(lit(0.0)).as("score"))
    // P7 zero-score filter on the ranked cut: chunks with score > 0 rank
    // first, so it drops the same rows as filtering before the cut, and
    // it cannot be pushed into the scan, where it would run the scoring
    // UDF a second time
    Fusion.ranked(scored, "chunk_id", "score", limit).filter(col("score") > 0)
  }

  /** Hybrid search: RRF fusion of vector + keyword ranks, alpha lowered
    * for identifier-shaped queries (Q3) unless given, heuristic boost
    * (Q15), in three Spark jobs over the vectors table alone, which holds
    * every keyword field:
    *  1. one scan collects the vector top 2·limit rows, and an observed
    *     [[bm25Stats]] gathers the BM25 statistics in the same pass;
    *  2. one [[bm25Score]] pass collects the keyword top 2·limit rows
    *     with score > 0 (skipped when the query has no term in the
    *     corpus);
    *  3. the caller's action renders the result: ranks are positions in
    *     the two collected lists, fused by [[Fusion.rrfLocal]], and the
    *     boost and the `limit` cut run over those ≤ 4·limit local rows.
    */
  def hybridSearch(vectors: DataFrame, query: String, limit: Int,
      alpha: Option[Double] = None): DataFrame = {
    val qtf = queryTerms(query)
    val cols = "chunk_id" +: vectors.columns.toSeq.filter(_ != "chunk_id")
    // the top 2·limit rows of `scored` by `scoreCol`, in rank order
    def top(scored: DataFrame, scoreCol: String): DataFrame =
      scored.orderBy(col(scoreCol).desc, col("chunk_id").asc)
        .limit(limit * 2).select((cols :+ scoreCol).map(col): _*)
    val vecTop = top(similar(
      if (qtf.isEmpty) vectors
      else vectors.observe("bm25_stats", bm25Stats(qtf.map(_._1)).as("stats")),
      query, Some(0.0)), "similarity_score")
    val vecRows = vecTop.collect()
    val kwRows = vecTop.queryExecution.observedMetrics.get("bm25_stats")
      .flatMap(st => bm25Score(vectors, qtf, st.getSeq[Long](0)))
      .map(score => top(vectors.withColumn("score", score), "score").collect()
        .filter(_.getDouble(cols.size) > 0))
      .getOrElse(Array.empty[Row])
    def ranks(rows: Array[Row]): Map[String, Int] =
      rows.iterator.zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 1) }.toMap
    val byId = (vecRows ++ kwRows).map(r => r.getString(0) -> r).toMap
    val fused = Fusion.rrfLocal(ranks(vecRows), ranks(kwRows),
        alpha.getOrElse(QueryProcessor.hybridAlpha(query)))
      .map { case (id, rrf) =>
        val r = byId(id)
        Row.fromSeq(id +: rrf +: r.toSeq.slice(1, cols.size))
      }
    val schema = StructType(vectors.schema("chunk_id") +:
      StructField("rrf_score", DoubleType, nullable = false) +:
      cols.tail.map(vectors.schema(_)))
    val local = spark.createDataFrame(java.util.Arrays.asList(fused: _*), schema)
    // in one partition the cut needs no shuffle to merge partition tops
    Fusion.ranked(boost(local, query, "rrf_score").coalesce(1),
      "chunk_id", "boosted", limit)
  }

  /** Heuristic rerank boosts (Q15, `core/result_ranker.py:7-208`):
    * exact identifier +0.15, filename hit +0.08, function chunk +0.05,
    * class +0.03, test-path penalty −0.02; capped at 1.0.
    */
  def boost(results: DataFrame, query: String, scoreCol: String): DataFrame = {
    val q = query.toLowerCase
    // generated-content penalty: license headers, generated files
    val generated =
      col("content").rlike("(?i)(licensed under|auto-generated|do not edit|generated by)") ||
        col("file_path").rlike("(?i)(_pb2\\.|\\.generated\\.|/migrations/)")
    results.withColumn("boosted", least(lit(1.0),
      col(scoreCol) +
        when(lower(col("name")) === q, 0.15).otherwise(0.0) +
        when(lower(col("file_path")).contains(q), 0.08).otherwise(0.0) +
        when(col("chunk_type") === "function", 0.05).otherwise(0.0) +
        when(col("chunk_type") === "class", 0.03).otherwise(0.0) -
        when(col("file_path").rlike("(^|/)tests?/"), 0.02).otherwise(0.0) -
        when(generated, 0.15).otherwise(0.0) +
        // language-aware lifecycle/dunder-name penalty, query-aware
        // (core/boilerplate.py:86-200)
        Boilerplate.penalty(col("name"), col("language"), query)))
  }

  /** Q17 search_by_context: description + focus areas concatenated into
    * the query (`search.py:485-519`).
    */
  def searchByContext(vectors: DataFrame, description: String,
      focusAreas: Seq[String], limit: Int): DataFrame =
    hybridSearch(vectors, (description +: focusAreas).mkString(" "), limit)

  /** Q18 search_with_context: results + query analysis + related-query
    * suggestions (`search.py:521-569`).
    */
  def searchWithContext(vectors: DataFrame, query: String,
      limit: Int): (DataFrame, Map[String, Any]) = {
    val results = hybridSearch(vectors, query, limit)
    val analysis = Map[String, Any](
      "preprocessed" -> QueryProcessor.preprocess(query),
      "threshold" -> QueryProcessor.adaptiveThreshold(query),
      "is_identifier" -> QueryProcessor.isIdentifierQuery(query),
      "alpha" -> QueryProcessor.hybridAlpha(query),
      "related_queries" -> QueryProcessor.expand(query).drop(1))
    (results, analysis)
  }

  /** Code-to-code search (Q16): use a chunk's content as the query. */
  def searchSimilar(vectors: DataFrame, chunkId: String, limit: Int): DataFrame = {
    val content = vectors.filter(col("chunk_id") === chunkId)
      .select("content").as[String].head()
    vectorSearch(vectors, content, limit + 1, threshold = Some(0.0))
      .filter(col("chunk_id") =!= chunkId)
  }

  /** Q16 batch flavor, fully distributed: every seed chunk's CONTENT is
    * run through query preprocessing (the reference's content-as-query
    * path, `search.py:434-483`) and re-embedded IN-PLAN — no driver
    * collect of content, no per-seed job — then one broadcast KNN join
    * scores all seeds against the corpus at once (self-matches
    * excluded, P5 threshold applied in rank order like [[vectorSearch]]).
    * At cluster scale the corpus side streams; the seed side is the
    * broadcast (bounded by the caller's seed set).
    *
    * @param vectors corpus (chunk_id, vector)
    * @param seeds   (chunk_id, content) rows to use as queries
    */
  def searchSimilarBatch(vectors: DataFrame, seeds: DataFrame, k: Int,
      threshold: Double = 0.0): DataFrame = {
    val prepped = seeds.select(col("chunk_id").as("qid"),
      QueryProcessor.preprocessCol(col("content")).as("qtext"))
    val qvecs = HashEmbedder.embed(prepped, "qid", "qtext")
      .select(col("id").as("qid"), col("vector").as("qvec"))
    graft.ann.Knn.bruteForceTopK(vectors, "chunk_id", "vector",
        qvecs, "qid", "qvec", k)
      .filter(col("sim") >= threshold)
  }

  /** Regex function extraction (reference `search.py:714-746`): the
    * def/function block from its declaration to the next same-indent
    * declaration.
    */
  def extractFunction(content: String, name: String): Option[String] = {
    val lines = content.split("\n", -1)
    val declRe = ("""^(\s*)(?:async\s+)?(?:def|function|fn|func)\s+""" +
      java.util.regex.Pattern.quote(name) + """\b.*""").r
    lines.zipWithIndex.collectFirst {
      case (l, i) if declRe.findFirstIn(l).isDefined =>
        val indent = l.takeWhile(_ == ' ').length
        val rest = lines.drop(i + 1).takeWhile { ln =>
          ln.trim.isEmpty || ln.takeWhile(_ == ' ').length > indent
        }
        (l +: rest).mkString("\n")
    }
  }

  /** A5 variant merge: search every expansion variant, keep each chunk's
    * best similarity across variants (`search.py:297-349` groupBy-max).
    */
  def searchWithExpansion(vectors: DataFrame, query: String, limit: Int): DataFrame = {
    val variants = QueryProcessor.expand(query)
    val perVariant = variants.map(v =>
      vectorSearch(vectors, v, limit * 2, threshold = Some(0.0))
        .select(col("chunk_id"), col("similarity_score")))
    val merged = perVariant.reduce(_ unionByName _)
      .groupBy(col("chunk_id"))
      .agg(max(col("similarity_score")).as("similarity_score"))
      .join(vectors, Seq("chunk_id"))
    Fusion.ranked(merged, "chunk_id", "similarity_score", limit)
  }

  /** Q10 cross-encoder stage (`core/reranker.py:22-173` via
    * `search.py:1230-1299`): a pluggable pair scorer's sigmoid(logit)
    * REPLACES the ranking score and the candidate set is cut to keepTopN
    * (= limit×3 upstream, kept for MMR). Default scorer is the
    * deterministic feature model in graft.search.FeatureScorer; drop in a
    * real model by passing another PairScorer to Rerank. As in the
    * reference, the prior score is discarded.
    */
  def rerankProxy(results: DataFrame, query: String, keepTopN: Int): DataFrame = {
    if (Tokenizer.tokenize(QueryProcessor.preprocess(query)).isEmpty) return results
    Rerank(results, query, keepTopN)
  }

  /** Q12 KG boost: +0.02 per 1-hop related entity whose name contains a
    * query term, re-sorted (`search.py:885-936`).
    */
  def kgBoost(results: DataFrame, kg: graft.graph.Kg.KgTables, query: String,
      scoreCol: String): DataFrame = {
    val qTerms = Tokenizer.tokenize(QueryProcessor.preprocess(query)).distinct
    if (qTerms.isEmpty) return results.withColumn("kg_boosted", col(scoreCol))
    val entityId = concat(col("file_path"), lit("::"), col("hierarchy_path"))
    val related = kg.edges.select(col("src").as("eid"), col("dst").as("nbr"))
      .unionByName(kg.edges.select(col("dst").as("eid"), col("src").as("nbr")))
      .join(kg.vertices.select(col("id").as("nbr"), col("name").as("nbr_name")),
        Seq("nbr"))
    val termHit = qTerms.map(t => when(lower(col("nbr_name")).contains(t), 1)
      .otherwise(0)).reduce(_ + _) > 0
    val boosts = related.filter(termHit)
      .groupBy(col("eid"))
      .agg((count(lit(1)) * 0.02).as("kg_boost"))
    val boosted = results
      .join(boosts, entityId === col("eid"), "left")
      .drop("eid")
      .withColumn("kg_boosted",
        col(scoreCol) + coalesce(col("kg_boost"), lit(0.0)))
    Fusion.rankedBounded(boosted, "chunk_id", "kg_boosted")
  }

  /** Q13 code-vector enrichment: a second, code-shaped embedding space
    * (identifiers/signature/calls only — the reference's CodeT5+ 256-d
    * table, `search.py:1069-1228`) built with the same featurizer over a
    * different text view.
    */
  def buildCodeVectors(chunks: DataFrame): DataFrame = {
    val codeText = chunks.withColumn("code_text",
      concat_ws(" ", col("name"), col("hierarchy_path"), col("signature"),
        concat_ws(" ", col("calls"))))
    HashEmbedder.embed(codeText, "chunk_id", "code_text")
      .withColumnRenamed("id", "chunk_id")
  }

  /** Boost results also retrieved by the code-vector space (+0.15 for
    * chunks in both top sets, reference semantics).
    */
  def codeVectorEnrich(results: DataFrame, codeVectors: DataFrame,
      query: String, scoreCol: String, limit: Int): DataFrame = {
    // query vector at plan time (embedLocal runs the corpus
    // featurizer's body) — no Spark job, no featurizer stage in the plan
    val qvec = typedlit(
      HashEmbedder.embedLocal(QueryProcessor.preprocess(query)))
    val codeTop = Fusion.ranked(
      codeVectors.withColumn("csim", VectorFunctions.cosine(col("vector"), qvec)),
      "chunk_id", "csim", limit)
      .select(col("chunk_id"), lit(0.15).as("code_boost"))
    val enriched = results
      .join(codeTop, Seq("chunk_id"), "left")
      .withColumn("enriched_score",
        col(scoreCol) + coalesce(col("code_boost"), lit(0.0)))
      .drop("code_boost")
    Fusion.rankedBounded(enriched, "chunk_id", "enriched_score")
  }

  /** Q14 result enhancement + P6 stale filter: attach surrounding context
    * lines from the current file content; rows whose file vanished are
    * flagged (and can be filtered), `core/result_enhancer.py:14-197`.
    */
  def enhance(results: DataFrame, files: DataFrame, contextLines: Int = 3): DataFrame = {
    val fileLines = files.select(col("file_path"),
      split(col("content"), "\n").as("all_lines"))
    results
      .join(fileLines, Seq("file_path"), "left")
      .withColumn("file_missing", col("all_lines").isNull)
      .withColumn("context_before",
        when(col("all_lines").isNotNull && col("start_line") > 1,
          slice(col("all_lines"),
            greatest(col("start_line") - contextLines, lit(1)),
            least(lit(contextLines), col("start_line") - 1)))
          .otherwise(array().cast("array<string>")))
      .withColumn("context_after",
        when(col("all_lines").isNotNull, slice(col("all_lines"),
          col("end_line") + 1, lit(contextLines))))
      .drop("all_lines")
  }
}

object SearchEngine {
  private val LongArray = ExpressionEncoder[Array[Long]]()

  /** Sums N, Σdl and each term's df over BM25 texts. The terms sit in
    * the aggregator, not in the plan, so the compiled code is the same
    * for every query.
    */
  private final class Bm25Stats(terms: Seq[String])
      extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](terms.size + 2)
    override def reduce(b: Array[Long], text: String): Array[Long] = {
      val toks = Tokenizer.tokenize(text)
      if (toks.nonEmpty) b(0) += 1
      b(1) += toks.size
      terms.indices.foreach(i => if (toks.contains(terms(i))) b(i + 2) += 1)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      a.indices.foreach(i => a(i) += b(i))
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = LongArray
    override def outputEncoder: Encoder[Array[Long]] = LongArray
  }
}
