package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * vectors table (one job). Keyword = 3-pass tokenizer + BM25 as one
  * global statistics aggregate (N, Σdl, the query terms' df) and one
  * row-local scoring pass; the query's idf is computed on the driver.
  * Hybrid = both rank lists collected (≤ 2·limit rows each), RRF with
  * identifier-aware alpha on the driver, then metadata attached by one
  * broadcast join, the heuristic boost stage (Q15) and the top-k cut.
  * The optional MMR finisher runs driver-side on the collected top-N.
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
    val enriched = chunks.withColumn("ctx",
      HashEmbedder.contextText(col("file_path"), col("language"), col("name"), col("content")))
    val vectors = HashEmbedder.embed(enriched, "chunk_id", "ctx")
      .withColumnRenamed("id", "chunk_id")
    // vectors table is denormalized for join-free search
    // (vectors_backend.py:52 "avoid JOINs")
    val denorm = vectors.join(
      chunks.select("chunk_id", "file_path", "content", "language",
        "start_line", "end_line", "chunk_type", "name", "hierarchy_path"),
      Seq("chunk_id"))
    (chunks, denorm)
  }

  /** Full index build. When `relatedPath` is set, the precomputed
    * related_chunks artifact is produced from the just-persisted tables
    * (the reference computes it at index time so the visualizer starts
    * instantly — `core/relationships.py:143-238`; reading back the
    * parquet avoids re-running the chunk/embed pipeline for it).
    */
  def indexRepo(root: String, chunksPath: String, vectorsPath: String,
      relatedPath: Option[String] = None): Unit = {
    val (chunks, vectors) = buildIndex(root)
    IndexStore.write(chunks, chunksPath)
    IndexStore.write(vectors, vectorsPath)
    relatedPath.foreach { p =>
      val ch = IndexStore.read(spark, chunksPath)
      val vec = IndexStore.read(spark, vectorsPath)
      graft.graph.Relationships.write(spark,
        graft.graph.Relationships.build(ch, vec, vecCol = "vector"), p)
    }
  }

  /** Incremental reindex: only changed files re-chunk/re-embed, deletes
    * and moves handled by set algebra (SURVEY §7 step 3).
    */
  def incrementalIndex(root: String, chunksPath: String, vectorsPath: String): Unit = {
    // drop any stale file-listing/relation caches for the three roots
    Seq(root, chunksPath, vectorsPath).foreach { p =>
      try spark.catalog.refreshByPath(p) catch { case _: Throwable => }
    }
    val disk = FileDiscovery.discover(spark, root).toDF()
    val stored = IndexStore.read(spark, chunksPath)
    val storedVec = IndexStore.read(spark, vectorsPath)

    val moves = IndexStore.movedFiles(disk, stored).cache()
    val movedNew = moves.select(col("new_path")).distinct()
    val changed = IndexStore.changedFiles(disk, stored)
      .join(movedNew, col("file_path") === col("new_path"), "left_anti")
    val deleted = IndexStore.deletedFiles(disk, stored)
      .join(moves.select(col("old_path")), col("file_path") === col("old_path"), "left_anti")

    val changedFiles = changed.as[FileRecord]
    // the full disk listing is in hand, so changed chunks get their
    // subproject assignment exactly as a full build would
    val subprojects = graft.ingest.Monorepo.subprojects(
      disk.select(col("file_path"), col("content")))
    val newChunks = graft.ingest.Monorepo.withSubproject(
      changedFiles.flatMap(Chunker.chunkFile _).toDF(), subprojects)
    val enriched = newChunks.withColumn("ctx",
      HashEmbedder.contextText(col("file_path"), col("language"), col("name"), col("content")))
    val newVectors = HashEmbedder.embed(enriched, "chunk_id", "ctx")
      .withColumnRenamed("id", "chunk_id")
      .join(newChunks.select("chunk_id", "file_path", "content", "language",
        "start_line", "end_line", "chunk_type", "name", "hierarchy_path"),
        Seq("chunk_id"))

    val changedPaths = changed.select("file_path")
    val keptChunks = IndexStore.applyMoves(
      IndexStore.deleteByFiles(
        IndexStore.deleteByFiles(stored, deleted), changedPaths), moves)
    val keptVectors = IndexStore.applyMoves(
      IndexStore.deleteByFiles(
        IndexStore.deleteByFiles(storedVec, deleted), changedPaths), moves)

    // allowMissingColumns: a pre-subproject (round-1 schema) stored
    // table widens with nulls instead of failing — additive evolution
    val outChunks = keptChunks.unionByName(newChunks, allowMissingColumns = true)
    val outVectors = keptVectors.unionByName(newVectors, allowMissingColumns = true)
    IndexStore.overwriteSafe(spark, outChunks, chunksPath)
    IndexStore.overwriteSafe(spark, outVectors, vectorsPath)
    moves.unpersist()
  }

  /** Embed a query string with the exact corpus featurizer — driver-side
    * (embedLocal ≡ the Column chain bit-for-bit, ParitySpec), so a
    * query embed never schedules a Spark job.
    */
  def embedQuery(query: String): Array[Float] =
    HashEmbedder.embedLocal(query)

  /** Vector search over a vectors DataFrame. */
  def vectorSearch(vectors: DataFrame, query: String, limit: Int,
      threshold: Option[Double] = None): DataFrame = {
    val q = QueryProcessor.preprocess(query)
    val th = threshold.getOrElse(QueryProcessor.adaptiveThreshold(q))
    val qvec = typedlit(embedQuery(q))
    val scored = vectors
      .withColumn("similarity_score", VectorFunctions.cosine(col("vector"), qvec))
      .filter(col("similarity_score") >= th)
    Fusion.ranked(scored, "chunk_id", "similarity_score", limit)
  }

  /** BM25 keyword search over chunks (corpus = content + 2×name +
    * file_path + chunk_type, `bm25_backend.py:88-122`): BM25Okapi with
    * k1 = 1.5, b = 0.75 and the epsilon floor, the same scores as
    * [[Bm25.score]] without building its index. One global aggregate
    * gives N (chunks with at least one token), Σdl and each query term's
    * df; idf is computed on the driver with `StrictMath.log` (what
    * Spark's `log` runs, so scores stay bit-identical). The
    * vocabulary-wide average idf needs a `groupBy(term)` over every
    * posting, so that pass runs only when a query term's raw idf is
    * negative (df > N/2), the one case the floor changes a score.
    * Scoring is one row-local pass: tf is counted inside each chunk's
    * token array and the per-query scalars go in as literals. Output:
    * (chunk_id, score, rank) for the top `limit` chunks with score > 0.
    */
  def keywordSearch(chunks: DataFrame, query: String, limit: Int): DataFrame = {
    import Bm25.{B, Epsilon, K1}
    val tokenizeUdf = udf((s: String) => Tokenizer.tokenize(s))
    val docs = chunks.select(col("chunk_id"), tokenizeUdf(concat_ws(" ",
      col("content"), col("name"), col("name"), col("file_path"),
      col("chunk_type"))).as("toks"))
    val toks = col("toks")
    val dl = size(toks)
    val qtf = Tokenizer.tokenize(QueryProcessor.preprocess(query))
      .groupBy(identity).map { case (t, os) => (t, os.size) }.toSeq
    val contribs = if (qtf.isEmpty) Nil else {
      val st = docs.agg(count(when(dl > 0, 1)), sum(dl) +:
        qtf.map { case (t, _) => count(when(array_contains(toks, t), 1)) }: _*)
        .head()
      val n = st.getLong(0)
      // a term no chunk holds adds nothing to any score
      val raw = qtf.zipWithIndex.map { case ((t, k), i) => (t, k, st.getLong(i + 2)) }
        .filter(_._3 > 0).map { case (t, k, df) =>
          (t, k, StrictMath.log(n - df + 0.5) - StrictMath.log(df + 0.5)) }
      lazy val avgIdf = docs.select(explode(array_distinct(toks)).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .agg(sum(log(lit(n) - col("df") + 0.5) - log(col("df") + 0.5)) /
          count(lit(1)))
        .head().getDouble(0)
      lazy val avgdl = st.getLong(1).toDouble / n // Σdl is null on no rows
      raw.map { case (t, k, r) =>
        val idf = if (r < 0) Epsilon * avgIdf else r
        val tf = dl - size(array_remove(toks, t))
        lit(k) * lit(idf) * (tf * (K1 + 1)) /
          (tf + lit(K1) * (lit(1 - B) + lit(B) * dl / lit(avgdl)))
      }
    }
    val scored = docs.select(col("chunk_id"),
      contribs.reduceOption(_ + _).getOrElse(lit(0.0)).as("score"))
    // P7 zero-score filter on the ranked cut: chunks with score > 0 rank
    // first, so it drops the same rows as filtering before the cut, and
    // it cannot be pushed into the scan with the tokenizer inlined once
    // per reference to `toks`
    Fusion.ranked(scored, "chunk_id", "score", limit).filter(col("score") > 0)
  }

  /** Hybrid search: RRF fusion of vector + keyword ranks, alpha lowered
    * for identifier-shaped queries (Q3) unless given, heuristic boost
    * (Q15). Both rank lists are collected (≤ 2·limit rows each) and
    * fused on the driver by [[Fusion.rrfLocal]]; the fused rows are
    * broadcast into one join that attaches the vectors table's metadata
    * (every fused row kept, the corpus side streamed), then boosted and
    * cut to `limit`.
    */
  def hybridSearch(vectors: DataFrame, chunks: DataFrame, query: String,
      limit: Int, alpha: Option[Double] = None): DataFrame = {
    def ranks(results: DataFrame): Map[String, Int] =
      results.select(col("chunk_id"), col("rank")).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    val fused = Fusion.rrfLocal(
      ranks(vectorSearch(vectors, query, limit * 2, threshold = Some(0.0))),
      ranks(keywordSearch(chunks, query, limit * 2)),
      alpha.getOrElse(QueryProcessor.hybridAlpha(query)))
      .toDF("chunk_id", "rrf_score")
    val withMeta = vectors.join(broadcast(fused), Seq("chunk_id"), "right")
      .select(("chunk_id" +: "rrf_score" +: vectors.columns.filter(_ != "chunk_id"))
        .map(col).toSeq: _*)
    Fusion.ranked(boost(withMeta, query, "rrf_score"), "chunk_id", "boosted", limit)
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
  def searchByContext(vectors: DataFrame, chunks: DataFrame,
      description: String, focusAreas: Seq[String], limit: Int): DataFrame =
    hybridSearch(vectors, chunks, (description +: focusAreas).mkString(" "), limit)

  /** Q18 search_with_context: results + query analysis + related-query
    * suggestions (`search.py:521-569`).
    */
  def searchWithContext(vectors: DataFrame, chunks: DataFrame,
      query: String, limit: Int): (DataFrame, Map[String, Any]) = {
    val results = hybridSearch(vectors, chunks, query, limit)
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

  /** Q16 file flavor (`search.py:434-483` + `:714-746`): use a file — or
    * one named function extracted from it — as the query.
    */
  def searchSimilarToFile(vectors: DataFrame, fileContent: String,
      functionName: Option[String], limit: Int): DataFrame = {
    val query = functionName
      .flatMap(n => extractFunction(fileContent, n))
      .getOrElse(fileContent)
    vectorSearch(vectors, query, limit, threshold = Some(0.0))
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
    * real model by passing another PairScorer to Rerank.
    * (`scoreCol` is accepted for call-site compatibility; reference
    * semantics discard the prior score.)
    */
  def rerankProxy(results: DataFrame, query: String, scoreCol: String,
      keepTopN: Int): DataFrame = {
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
    // query vector at plan time (embedLocal ≡ the Column featurizer,
    // bit-for-bit) — no Spark job, no featurizer stage in the probe plan
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

  /** S11 authorship enrichment: attach last_author / last_modified /
    * last_commit from a blame table — the reference's
    * `enrich_with_git_blame` over SearchResults, as one join instead of a
    * per-result subprocess (`core/git_blame.py:262-330`).
    */
  def withAuthorship(results: DataFrame, blame: DataFrame): DataFrame =
    graft.ingest.GitBlame.enrichChunks(results, blame)

  /** MMR diversity finisher (Q11): collect top-3k candidates, greedy-pick
    * k diverse results driver-side.
    */
  def mmrFinish(results: DataFrame, k: Int, lambda: Double = 0.7): Seq[Mmr.Candidate] = {
    val cands = results
      .select(col("chunk_id"), col("similarity_score"), col("vector"))
      .orderBy(col("similarity_score").desc, col("chunk_id"))
      .limit(3 * k)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        Mmr.Candidate(i.toLong, r.getDouble(1), r.getSeq[Float](2).toArray)
      }
    Mmr.rerank(cands.toSeq, lambda, k)
  }
}
