package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Registry
import graft.ann.Knn
import graft.functions.VectorFunctions
import graft.search.{Bm25, Bm25F, Fusion}
import graft.tables.Tables
import graft.text.TextFunctions

/** Search-pipeline pack: BM25 scoring, hybrid RRF fusion, heuristic
  * rerank — the reference's retrieval stages (SURVEY §2.4 A3/A4, §2.6
  * Q7/Q8/Q15) exercised over the documents/embeddings tables with full
  * DuckDB oracles.
  */
object SearchPack {

  /** Fixed benchmark query; 'table' duplicated to exercise query-term
    * multiset weighting (rank_bm25 counts duplicates).
    */
  val Query: Seq[String] = Seq("fast", "table", "scan", "merge", "table")

  /** br1's BM25F query — terms that hit both the 2-token name field
    * (weight 3) and the body, so field weighting visibly reorders.
    */
  val BrQuery: Seq[String] = Seq("slow", "merge", "key")
  val Alpha = 0.5

  /** Expansion variants of "fast table scan" via the synonym groups
    * (graft.search.QueryProcessor.expand), tokenized.
    */
  val ExpansionVariants: Seq[Seq[String]] =
    graft.search.QueryProcessor.expand("fast table scan")
      .map(_.split(" ").toSeq)

  /** Query batch for the batched hybrid gate: three independent queries
    * (query 0 keeps the duplicate-term multiset case).
    */
  val BatchQueries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("fast", "table", "scan", "merge", "table"),
    1 -> Seq("batch", "window", "spark"),
    2 -> Seq("customer", "order", "group"))

  private[queries] def docTokens = {
    val t = TextFunctions.tokens(col("text"))
    filter(t, tok => !tok.rlike("^[0-9]+$"))
  }

  private[queries] val docTokensSql =
    s"list_filter(${TextFunctions.tokensSql("text")}, t -> NOT regexp_matches(t, '^[0-9]+$$'))"

  /** Persisted BM25 index over the documents table (S8), one per corpus
    * in the [[Registry]]: queries scan the parquet index tables — the
    * gates measure search, not repeated index derivation.
    */
  private[queries] def bm25Index(s: SparkSession, d: String): Bm25.Bm25Index =
    Registry.persisted("bm25", d) { dir =>
      val docs = Tables.documents(s, d)
      Bm25.writeIndexBucketed(
        Bm25.buildIndex(Bm25.postings(docs, "doc_id", docTokens)),
        Registry.tableName(dir), dir)
      Bm25.readIndexBucketed(s, Registry.tableName(dir), dir)
    }

  private def bm25Scores(s: SparkSession, d: String): DataFrame =
    Bm25.scoreIndexed(s, bm25Index(s, d), Query)

  /** br1's fielded flavor of the same registry: the WEIGHTED postings
    * persist bucketed once per corpus, so the gate times a probe of
    * the unchanged Bm25 scoring path — not a per-query re-derivation
    * of the field-weighted index.
    */
  private[queries] def bm25fIndex(s: SparkSession, d: String): Bm25.Bm25Index =
    Registry.persisted("bm25f", d) { dir =>
      val toks = TextFunctions.tokens(col("text"))
      val fielded = Tables.documents(s, d).select(col("doc_id"),
        array_join(slice(toks, 1, 2), " ").as("name"),
        col("text").as("content"))
      Bm25.writeIndexBucketed(
        Bm25.buildIndex(Bm25F.fieldPostings(fielded, "doc_id",
          Seq("name" -> 3, "content" -> 1))),
        Registry.tableName(dir), dir)
      Bm25.readIndexBucketed(s, Registry.tableName(dir), dir)
    }

  /** Persisted corpus vectors (the bm25Index pattern for
    * the EMBEDDING side): the documents corpus is featurized ONCE per
    * corpus, written bucketed by id, and every downstream search gate
    * (e2e2/sbc1/ss1) probes the persisted table — at 100 TB nobody
    * re-embeds the corpus per query; vectors are index state built at
    * ingest (reference `core/indexer.py` writes them into ChromaDB once).
    * Bucketing by id keeps the post-scan groupBy(id)/join(id) stages
    * Exchange-free on the corpus side.
    */
  private[queries] def corpusVectors(s: SparkSession, d: String): DataFrame =
    Registry.persisted("vecs", d) { dir =>
      graft.embed.HashEmbedder.embed(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text")
        .repartition(32, col("id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(32, "id").sortBy("id")
        .option("path", dir).saveAsTable(Registry.tableName(dir))
      s.table(Registry.tableName(dir))
    }

  /** cv1's code-shaped second embedding space, persisted the same way:
    * built once per corpus over the deterministic chunk-metadata fixture,
    * probed by the gate (Q13's CodeT5+ table is likewise index state,
    * `search.py:1069-1228`).
    */
  private[queries] def codeVectors(s: SparkSession, d: String): DataFrame =
    Registry.persisted("codevecs", d) { dir =>
      val meta = Tables.documents(s, d).select(col("doc_id").as("chunk_id"),
        concat(lit("fn_"), col("doc_id") % 40).as("name"),
        concat(lit("Mod"), col("doc_id") % 7, lit(".fn_"),
          col("doc_id") % 40).as("hierarchy_path"),
        concat_ws(" ",
          slice(TextFunctions.tokens(col("text")), 1, 5)).as("signature"),
        array(concat(lit("call_"), col("doc_id") % 11),
          concat(lit("helper_"), col("doc_id") % 5)).as("calls"))
      new graft.search.SearchEngine(s).buildCodeVectors(meta)
        .repartition(32, col("chunk_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(32, "chunk_id").sortBy("chunk_id")
        .option("path", dir).saveAsTable(Registry.tableName(dir))
      s.table(Registry.tableName(dir))
    }

  /** e2e1's fixed query string — embedded through the SAME featurizer
    * as the corpus (Q5 query-embed semantics).
    */
  val E2eQuery = "fast table scan over sorted data"

  /** ev1 cutoff; discount literals derive from it on both sides. */
  val EvalK = 10

  /** e2e2's raw query — chosen to hit the technical-term threshold branch
    * ("index") AND two synonym groups (fast→quick/rapid, index→catalog),
    * so the Q1-Q4 stage outputs that parameterize the pipeline are all
    * non-trivial. The gate derives processed/threshold/alpha/variants by
    * CALLING QueryProcessor; the oracle inlines the expected values — a
    * heuristic change upstream breaks the hash.
    */
  val E2e2Query = "fast index scan"

  /** sbc1's Q17 inputs: description + focus areas, concatenated by the
    * operator into the lifecycle query.
    */
  val SbcDescription = "merge sorted runs"
  val SbcFocus = Seq("fast", "index")

  /** qp1's eight query templates, one per heuristic branch. */
  val QpTemplates: Map[Int, String] = Map(
    0 -> "db", 1 -> "fast scan", 2 -> "parseFile data",
    3 -> "a.b.c lookup", 4 -> "http cache index fetch merge sort scan",
    5 -> "snake_case term", 6 -> "config auth db", 7 -> "obj::method call")

  /** cv1's query — hits the code space via a colliding fixture name. */
  val CvQuery = "table scan fn_7"

  /** ph1 phrase — adjacent-token exact match over the documents corpus. */
  val PhraseTerms = Seq("table", "scan")

  /** prox1 term pair — both common, so min-distance genuinely ranks. */
  val ProxTerms = ("slow", "merge")

  /** Persisted positional-postings index (the bm25Index pattern): built
    * once per corpus, the ph1 gate then times the PROBE
    * — term-pushdown scans + Exchange-free (id, start) joins off the
    * bucketed table — not a per-query index rebuild.
    */
  private[queries] def phrasePostings(s: SparkSession, d: String): DataFrame =
    Registry.persisted("phrase", d) { dir =>
      graft.search.Phrase.writeIndex(
        graft.search.Phrase.positionalPostings(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", TextFunctions.tokens),
        Registry.tableName(dir), dir)
      graft.search.Phrase.readIndex(s, Registry.tableName(dir))
    }

  /** bq1's three boolean queries: (qid, must, should, mustNot). */
  val BoolQueries: Seq[(Int, Seq[String], Seq[String], Seq[String])] = Seq(
    (1, Seq("spark", "join"), Seq.empty, Seq("slow")),
    (2, Seq("table"), Seq("fast", "merge"), Seq.empty),
    (3, Seq.empty, Seq("window", "batch"), Seq("key")))

  /** The §3.1 lifecycle (see the e2e2 gate comment) as one plan,
    * parameterized by the raw query — shared by e2e2 and sbc1.
    */
  private def searchLifecycle(s: SparkSession, d: String,
      raw: String): DataFrame = {
      import s.implicits._
      import graft.search.QueryProcessor
      val processed = QueryProcessor.preprocess(raw)
      val threshold = QueryProcessor.adaptiveThreshold(raw)
      val alpha = QueryProcessor.hybridAlpha(raw)
      val variants = QueryProcessor.expand(processed)
      val docs = Tables.documents(s, d)
      // vector leg: the PERSISTED corpus vectors (featurized once per
      // corpus at index time — corpusVectors registry), all variant
      // queries embedded through the SAME featurizer driver-side
      // (embedLocal, the corpus featurizer's own body), per-doc best
      // variant similarity. The probe plan contains zero featurizer
      // stages — VectorRegistrySpec machine-checks.
      val corpus = corpusVectors(s, d)
      val qvecs = variants
        .map(v => Tuple1(graft.embed.HashEmbedder.embedLocal(v)))
        .toDF("qvec")
      val sims = corpus.crossJoin(broadcast(qvecs))
        .select(col("id"),
          VectorFunctions.cosine(col("vector"), col("qvec")).as("sim"))
        .groupBy(col("id")).agg(max(col("sim")).as("sim"))
        .filter(col("sim") >= threshold)
      val vRanks = Fusion.ranked(sims, "id", "sim", 50).select("id", "rank")
      // keyword leg: variant-merged BM25 off the persisted bucketed index
      val kScores = Bm25.scoreVariantsIndexed(s, bm25Index(s, d),
          variants.map(_.split(" ").toSeq))
        .select(col("id"), round(col("score"), 6).as("score"))
      val kRanks = Fusion.ranked(kScores, "id", "score", 50)
        .select("id", "rank")
      val fused = Fusion.rrf(vRanks, kRanks, alpha)
        .select(col("id"), round(col("rrf_score"), 6).as("rrf_score"))
      // chunk-shaped metadata fixture spanning every boost/penalty
      // branch (boilerplate hit per language set, language-miss case,
      // exact-identifier name, tests path, migrations path)
      val meta = docs.select(col("doc_id").as("id"),
        col("text").as("content"),
        when(col("doc_id") % 10 === 0, "__init__")
          .when(col("doc_id") % 10 === 1, "main")
          .when(col("doc_id") % 10 === 2, "constructor")
          .when(col("doc_id") % 10 === 3, "initialize")
          .when(col("doc_id") % 10 === 4, "setUp")
          .when(col("doc_id") % 10 === 5, raw)
          .otherwise(concat(lit("fn_"), col("doc_id"))).as("name"),
        when(col("doc_id") % 4 === 0, "python")
          .when(col("doc_id") % 4 === 1, "javascript")
          .when(col("doc_id") % 4 === 2, "ruby")
          .otherwise("go").as("language"),
        concat(lit("src/m"), col("doc_id") % 5,
          when(col("doc_id") % 6 === 0, "/tests")
            .when(col("doc_id") % 9 === 0, "/migrations")
            .otherwise(""),
          lit("/f"), col("doc_id"), lit(".py")).as("file_path"),
        when(col("doc_id") % 3 === 0, "function")
          .when(col("doc_id") % 3 === 1, "class")
          .otherwise("code").as("chunk_type"))
      val boosted = new graft.search.SearchEngine(s)
        .boost(fused.join(meta, Seq("id")), raw, "rrf_score")
      boosted.select(col("id").as("doc_id"), col("rrf_score"),
          round(col("boosted"), 6).as("final_score"))
        .orderBy(col("final_score").desc, col("doc_id"))
        .limit(20)
  }

  /** bq1's and ac1's (doc_id, term) postings, derived as the tools derive theirs. */
  private def docTerms(s: SparkSession, d: String): DataFrame =
    graft.search.BooleanQuery.fromPositional(graft.search.Phrase
      .positionalPostings(Tables.documents(s, d), "doc_id", TextFunctions.tokens))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Boolean set retrieval (must/should/must-not) over the inverted
    // postings: pushdown term filters, one groupBy for ALL, semi/anti
    // joins for ANY/NONE — three query shapes unioned under a qid.
    "bq1_boolean_search" -> ((s, d) => {
      val p = docTerms(s, d).cache()
      BoolQueries.map { case (qid, must, should, not) =>
        graft.search.BooleanQuery.query(p, must, should, not)
          .select(lit(qid).as("qid"), col("doc_id"))
      }.reduce(_ unionByName _)
        .orderBy(col("qid"), col("doc_id"))
    }),

    // Prefix autocomplete: top-3 vocabulary terms by document frequency
    // per 2-char prefix (edge-ngram completion index over the postings).
    "ac1_autocomplete" -> ((s, d) => {
      graft.search.BooleanQuery.completions(docTerms(s, d), prefixLen = 2, k = 3)
        .orderBy(col("prefix"), col("rank"))
    }),

    // Q1-Q4 query preparation pipeline over 8 query templates chosen
    // to hit every heuristic branch: abbreviation expansion + dedup,
    // single-word / short / long word-count adjustments, technical
    // terms, camelCase + snake_case, code punctuation, dotted and
    // ::-scoped identifier detection, synonym expansion with the
    // variant cap. Threshold/alpha run on the RAW query, expansion on
    // the PROCESSED one — the reference's stage order (SURVEY §3.1).
    "qp1_query_pipeline" -> ((s, d) => {
      import s.implicits._
      import graft.search.QueryProcessor
      val templates = QpTemplates
      Tables.documents(s, d)
        .select((col("doc_id") % 8).cast("int").as("k")).distinct().as[Int]
        .map { k =>
          val q = templates(k)
          val processed = QueryProcessor.preprocess(q)
          (k, q, processed,
            BigDecimal(QueryProcessor.adaptiveThreshold(q))
              .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
            QueryProcessor.hybridAlpha(q),
            QueryProcessor.expand(processed).length)
        }
        .toDF("k", "raw_query", "processed", "threshold", "alpha",
          "n_variants")
        .orderBy(col("k"))
    }),

    // Q5+J12+P5/P7 end to end: the ENTIRE vector-search data path —
    // hash-n-gram featurization (unigrams + bigrams → portable-hash
    // buckets → integer counts → L2 normalize) of corpus AND query,
    // exact cosine, zero-score filter, top-k with id tiebreak — every
    // stage mirrored in the oracle, including the embedding itself.
    "e2e1_vector_search" -> ((s, d) => {
      import s.implicits._
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val vecs = graft.embed.HashEmbedder.embed(corpus, "doc_id", "text")
      val qvec = graft.embed.HashEmbedder.embed(
        Seq((0L, E2eQuery)).toDF("qid", "qtext"), "qid", "qtext")
        .select(col("vector").as("qvec"))
      vecs.crossJoin(broadcast(qvec))
        .withColumn("sim", VectorFunctions.cosine(col("vector"), col("qvec")))
        .filter(col("sim") > 0)
        .orderBy(col("sim").desc, col("id").asc)
        .limit(20)
        .select(col("id").as("doc_id"), round(col("sim"), 6).as("sim"))
    }),

    // Q16 search_similar, batch flavor (search.py:434-483): every seed
    // document's CONTENT is run through query preprocessing
    // (abbreviation expansion + order-preserving dedup — so the query
    // vector genuinely differs from the seed's stored corpus vector)
    // and re-embedded through the same featurizer IN-PLAN, then one
    // broadcast KNN join ranks the corpus per seed, self excluded.
    // Both embedding chains AND the preprocess are mirrored in the
    // oracle.
    "ss1_search_similar" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // corpus side: the persisted vector registry (index state); only
      // the seed CONTENT re-embeds in-plan — that's the query side, the
      // work a real search_similar call genuinely pays per request
      val vecs = corpusVectors(s, d)
        .select(col("id").as("chunk_id"), col("vector"))
      val seeds = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("chunk_id"), col("text").as("content"))
      new graft.search.SearchEngine(s).searchSimilarBatch(vecs, seeds, 10)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Q13 code-vector enrichment (search.py:1069-1228): a SECOND,
    // code-shaped embedding space (name + hierarchy + signature +
    // calls only) built with the same featurizer over chunk metadata
    // derived from the documents table (names collide across chunks,
    // signatures carry real text tokens); the query embeds into that
    // space, its top-20 code matches get +0.15, and the prior-stage
    // result list re-ranks. Membership in the boost set depends on
    // exact cosine ordering — both embedding chains mirrored.
    "cv1_code_vectors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // code space persisted once per corpus (codeVectors registry);
      // the gate times the probe: query embed (driver-side), top-20
      // code matches, boost join, re-rank
      val codeVecs = codeVectors(s, d)
      val results = docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 300)
        .select(col("doc_id").as("chunk_id"),
          (((col("doc_id") * 7) % 100).cast("double") / 100.0).as("score"))
      new graft.search.SearchEngine(s)
        .codeVectorEnrich(results, codeVecs, CvQuery, "score", 20)
        .select(col("chunk_id"),
          round(col("enriched_score"), 6).as("enriched_score"), col("rank"))
        .orderBy(col("rank"))
    }),

    // The FLAGSHIP §3.1 search lifecycle (search.py:215-432) end to end
    // in ONE plan: Q1 preprocess → Q2 adaptive threshold → Q3
    // identifier-aware alpha → Q4 synonym expansion → vector leg
    // (per-variant embed, per-doc best-variant cosine = A5 vector
    // flavor, P5 threshold filter, W1 rank) ∥ keyword leg
    // (variant-merged BM25 off the persisted index = A5/Q7, W1 rank) →
    // Q8 RRF fusion with W3 max-normalize → Q15 heuristic rerank +
    // boilerplate penalty over branch-spanning chunk-shaped metadata →
    // top-k. Q10/Q11 stay out by design: the cross-encoder is the
    // declared model seam (PairScorer) and MMR is the driver-side
    // greedy finisher — both spec-verified separately.
    "e2e2_search_pipeline" -> ((s, d) =>
      searchLifecycle(s, d, E2e2Query)),

    // Q17 search_by_context (sbc1): description + focus areas
    // concatenated into the query string (search.py:485-519), then
    // the IDENTICAL lifecycle — one parameterized plan serves both
    // front doors, proving Q17's query construction feeds the
    // flagship path unchanged.
    "sbc1_search_by_context" -> ((s, d) =>
      searchLifecycle(s, d, (SbcDescription +: SbcFocus).mkString(" "))),

    // Q18 search_with_context (swc1, search.py:521-569): the flagship
    // results PLUS the query-analysis map — preprocessed form, adaptive
    // threshold, hybrid alpha, related-query suggestions (expansion
    // minus the original) — materialized as a one-row 'A' record
    // unioned with the 'R' result rows of the SAME parameterized
    // lifecycle plan e2e2 gates. The oracle inlines the expected
    // analysis literals (the qp1 golden-values pattern), so a heuristic
    // drift upstream breaks the hash.
    "swc1_search_with_context" -> ((s, d) => {
      import s.implicits._
      import graft.search.QueryProcessor
      val raw = E2e2Query
      val analysis = Seq((
        "A", -1L,
        BigDecimal(QueryProcessor.adaptiveThreshold(raw))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        QueryProcessor.hybridAlpha(raw),
        QueryProcessor.preprocess(raw) + " => " +
          QueryProcessor.expand(raw).drop(1).mkString("|")))
        .toDF("kind", "doc_id", "v1", "v2", "txt")
      val results = searchLifecycle(s, d, raw)
        .select(lit("R").as("kind"), col("doc_id"),
          col("rrf_score").as("v1"), col("final_score").as("v2"),
          lit("").as("txt"))
      analysis.unionByName(results)
        .orderBy(col("kind"), col("v2").desc, col("doc_id"))
    }),

    // Ranking-quality eval (NDCG@10 / MRR / P@10 / R@10) over a
    // deterministic ranked-list + judgments fixture: integer micro-unit
    // rank discounts make DCG/IDCG order-free integer sums, so the
    // oracle inlines the IDENTICAL driver-computed discount literals.
    "ev1_rank_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val results = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") % 5).as("query_id"), col("doc_id").as("id"),
          expr("CAST(doc_id DIV 5 + 1 AS INT)").as("rank"))
      val qrels = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") % 5).as("query_id"), col("doc_id").as("id"),
          when(col("doc_id") % 3 === 0, 2L)
            .when(col("doc_id") % 7 === 0, 1L)
            .otherwise(0L).as("rel"))
      graft.search.RankEval.rankingMetrics(results, qrels, EvalK)
        .orderBy(col("query_id"))
    }),

    // Exact phrase search over the PERSISTED positional index: one
    // term-pushdown scan + Exchange-free equi-join per phrase term,
    // rarest term first; occurrence counts ranked top-k with id
    // tiebreak. The index is write-once per corpus (phrasePostings);
    // the gate times the probe.
    "ph1_phrase_search" -> ((s, d) => {
      graft.search.Phrase.phraseSearch(phrasePostings(s, d), PhraseTerms, 30)
    }),

    // Pairwise term proximity off the SAME persisted positional index
    // ph1 probes (prox1): min token distance between the two query
    // terms per doc + the 1/(1+d) ranking bonus — the positional
    // signal between order-blind BM25 and adjacency-exact phrase
    // match. Two term-pushdown scans, in-row position-set fold, one
    // Exchange-free id join.
    "prox1_term_proximity" -> ((s, d) => {
      graft.search.Phrase.proximityPairs(phrasePostings(s, d),
          ProxTerms._1, ProxTerms._2, 20)
        .select(col("id").as("doc_id"), col("n_a"), col("n_b"),
          col("min_dist"), col("prox_score"))
        .orderBy(col("min_dist"), col("doc_id"))
    }),

    // Q12 KG boost (search.py:885-936): +0.02 per 1-hop related entity
    // whose name contains a query term, re-ranked. Fixture: result
    // chunks with doc_id-residue entity ids, a 7-node neighbor universe
    // (4 names hit "scan"/"merge", 3 miss), edges in BOTH directions so
    // the undirected union is exercised; boost counts are exact residue
    // arithmetic on both sides.
    "kb1_kg_boost" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val results = docs.filter(col("doc_id") % 5 === 0)
        .select(concat(lit("c"), col("doc_id")).as("chunk_id"),
          concat(lit("src/f"), col("doc_id") % 10, lit(".py")).as("file_path"),
          concat(lit("fn_"), col("doc_id")).as("hierarchy_path"),
          (((col("doc_id") * 7) % 100).cast("double") / 100.0).as("score"))
      val entity = concat(lit("src/f"), col("doc_id") % 10,
        lit(".py::fn_"), col("doc_id"))
      val e1 = docs.filter(col("doc_id") % 5 === 0)
        .select(entity.as("src"), concat(lit("n"), col("doc_id") % 7).as("dst"))
      val e2 = docs.filter(col("doc_id") % 10 === 0)
        .select(concat(lit("n"), (col("doc_id") + 1) % 7).as("src"),
          entity.as("dst"))
      val vertices = docs.filter(col("doc_id") < 7)
        .select(concat(lit("n"), col("doc_id")).as("id"),
          when(col("doc_id") === 0, "scan_runner")
            .when(col("doc_id") === 1, "merge_helper")
            .when(col("doc_id") === 2, "scan_merge_core")
            .when(col("doc_id") === 3, "parser")
            .when(col("doc_id") === 4, "writer")
            .when(col("doc_id") === 5, "index_scan")
            .otherwise("noop").as("name"))
      val kg = graft.graph.Kg.KgTables(vertices,
        e1.unionByName(e2).withColumn("rel_type", lit("CALLS")))
      new graft.search.SearchEngine(s)
        .kgBoost(results, kg, "scan merge", "score")
        .select(col("chunk_id"),
          round(col("kg_boosted"), 6).as("kg_boosted"), col("rank"))
        .orderBy(col("rank"))
    }),

    // Q14 result enhancement + P6 stale flag (result_enhancer.py:14-197):
    // context lines sliced from the current file content, vanished files
    // flagged. Fixture: 20 ten-line files; results point at lines 1-10
    // (empty-before and past-end-after branches both hit) and 1 in 5
    // result files does not exist (file_missing + null after-context).
    // Context arrays emitted as ';'-joined strings.
    "re1_result_enhance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val files = docs.filter(col("doc_id") < 20)
        .select(concat(lit("f"), col("doc_id")).as("file_path"),
          array_join(transform(sequence(lit(1), lit(10)),
            i => concat(lit("line"), col("doc_id"), lit("_"), i)), "\n")
            .as("content"))
      val results = docs.filter(col("doc_id") % 15 === 0)
        .select(concat(lit("c"), col("doc_id")).as("chunk_id"),
          concat(lit("f"), col("doc_id") % 25).as("file_path"),
          (col("doc_id") % 10 + 1).cast("int").as("start_line"),
          (col("doc_id") % 10 + 2).cast("int").as("end_line"))
      new graft.search.SearchEngine(s).enhance(results, files, 3)
        .select(col("chunk_id"), col("file_path"), col("start_line"),
          col("end_line"), col("file_missing"),
          array_join(col("context_before"), ";").as("ctx_before"),
          array_join(col("context_after"), ";").as("ctx_after"))
        .orderBy(col("chunk_id"))
    }),

    // Q11 MMR diversity VALUE eval (the dre1/ev1 pattern): the real
    // greedy finisher (Mmr.rerank, driver-side on a bounded candidate
    // set — its documented deployment shape) runs over a
    // clique-structured fixture: 60 candidates in 6 orthogonal one-hot
    // clusters (within-sim exactly 1, cross-sim exactly 0) with
    // relevance ∈ [0.5, 0.99] and lambda = 0.5, so the cluster penalty
    // (0.5·1) provably dominates any relevance gap (≤ 0.245) and the
    // greedy MUST pick each cluster's top-relevance candidate, in
    // descending cluster-max order — which IS SQL-derivable. The gate
    // emits the measured selection AND the measured intra-list
    // similarity of MMR-vs-plain-top-k — diversity gained at bounded
    // relevance cost, quantified.
    "mv1_mmr_eval" -> ((s, d) => {
      import s.implicits._
      val cands = Tables.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id").as("id"),
          (col("doc_id") % 6).cast("int").as("cluster"),
          (lit(0.5) + ((col("doc_id") * 37) % 50).cast("double") / 100.0)
            .as("rel"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val byId = cands.map(c => c._1 -> c).toMap
      val sel = graft.search.Mmr.rerank(
        cands.toSeq.map { case (id, cl, rel) =>
          val v = Array.fill(6)(0.0f); v(cl) = 1.0f
          graft.search.Mmr.Candidate(id, rel, v)
        }, lambda = 0.5, k = 6)
      def meanPairSim(ids: Seq[Long]): Double = {
        val cls = ids.map(byId(_)._2)
        val pairs = for {
          i <- cls.indices; j <- i + 1 until cls.length
        } yield if (cls(i) == cls(j)) 1.0 else 0.0
        pairs.sum / pairs.length
      }
      val topk = cands.sortBy { case (id, _, rel) => (-rel, id) }.take(6)
      val simMmr = meanPairSim(sel.map(_.id))
      val simTop = meanPairSim(topk.map(_._1).toSeq)
      sel.zipWithIndex.map { case (c, i) =>
        (i + 1, c.id, byId(c.id)._2, c.relevance, simMmr, simTop)
      }.toDF("sel_rank", "id", "cluster", "rel",
          "mmr_intra_sim", "topk_intra_sim")
        .select(col("sel_rank").cast("int").as("sel_rank"), col("id"),
          col("cluster"), round(col("rel"), 6).as("rel"),
          round(col("mmr_intra_sim"), 6).as("mmr_intra_sim"),
          round(col("topk_intra_sim"), 6).as("topk_intra_sim"))
        .orderBy(col("sel_rank"))
    }),

    // Q7/A3: BM25 top-k for a fixed query.
    "b1_bm25_topk" -> ((s, d) => {
      bm25Scores(s, d)
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Simple BM25F (br1): multi-field ranking with integer field
    // weights folded into pseudo-counts BEFORE saturation — a name-
    // field hit (weight 3) outweighs the same term in the body, which
    // single-field BM25 cannot express. The weighted postings reuse
    // the UNCHANGED Bm25 index/scoring pipeline (and so inherit its
    // bucketed-layout story). Fixture: name = the doc's first two
    // tokens, content = the full text.
    "br1_bm25f_fields" -> ((s, d) => {
      Bm25.scoreIndexed(s, bm25fIndex(s, d), BrQuery)
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Incremental BM25 maintenance: index built on doc_id >= 100, the
    // <100 batch merged in WITHOUT re-tokenizing the corpus (postings/
    // doc_stats union disjointly; corpus-global n/avgdl/idf re-derive
    // from the aggregated tables). The oracle is the FULL-REBUILD
    // mirror over all documents — the merge must be bit-identical to
    // rebuilding from scratch, epsilon-floored idf included.
    "b2_bm25_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = Bm25.buildIndex(Bm25.postings(
        docs.filter(col("doc_id") >= 100), "doc_id", docTokens))
      val batch = Bm25.postings(
        docs.filter(col("doc_id") < 100), "doc_id", docTokens)
      Bm25.scoreIndexed(s, Bm25.mergeIndex(base, batch), Query)
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Q8/A4: hybrid RRF — vector ranks (query = embedding of vec_id 0)
    // fused with BM25 ranks, max-normalized.
    "h1_hybrid_rrf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qvec = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val sims = emb.crossJoin(broadcast(qvec))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"),
          VectorFunctions.cosine(col("embedding"), col("qvec")).as("sim"))
      val vRanks = Fusion.ranked(sims, "id", "sim", 50)
      val bScores = bm25Scores(s, d)
        .select(col("id"), round(col("score"), 6).as("score"))
      val kRanks = Fusion.ranked(bScores, "id", "score", 50)
      Fusion.rrf(vRanks, kRanks, Alpha)
        .select(col("id"), round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("id"))
        .limit(20)
    }),

    // Batched hybrid: THREE queries end-to-end in one plan — batched
    // brute-force KNN (Knn.bruteForceTopK already takes a query table),
    // batched BM25 (Bm25.scoreBatchIndexed), per-query ranks via
    // PARTITIONED windows, per-(qid,id) RRF with per-qid max-normalize
    // (Fusion.rrfBatch). The reference answers one query per engine
    // call; this is the bulk-pipeline shape.
    "hb1_hybrid_batch" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val vRanks = Knn.bruteForceTopK(emb, "vec_id", "embedding",
        qs, "qid", "qvec", 50).select("qid", "id", "rank")
      val qterms = BatchQueries.flatMap { case (q, toks) =>
        toks.groupBy(identity).map { case (t, os) => (q.toLong, t, os.size) }
      }.toDF("qid", "term", "qtf")
      val kw = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))
      val kRanks = Bm25.scoreBatchIndexed(bm25Index(s, d), qterms)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(kw))
        .filter(col("rank") <= 50)
        .select("qid", "id", "rank")
      val ow = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_score").desc, col("id"))
      Fusion.rrfBatch(vRanks, kRanks, Alpha)
        .select(col("qid"), col("id"),
          round(col("rrf_score"), 6).as("rrf_score"))
        .withColumn("rank", row_number().over(ow))
        .filter(col("rank") <= 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // A5 variant merge: expansion variants scored independently, each
    // doc keeps its best score (search.py:297-349), via BM25 so the
    // whole thing is oracle-checkable.
    "a5_variant_merge" -> ((s, d) => {
      Bm25.scoreVariantsIndexed(s, bm25Index(s, d), ExpansionVariants)
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Q15: heuristic rerank — content/metadata boosts over BM25 scores.
    "h2_heuristic_boost" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      bm25Scores(s, d)
        .join(docs, col("id") === col("doc_id"))
        .withColumn("boost",
          when(col("text").contains("fast table"), 0.15).otherwise(0.0) +
            when(col("text").contains("spark"), 0.05).otherwise(0.0) +
            when(col("source") === "src1", 0.08).otherwise(0.0) +
            when(col("n_chars") > 400, -0.02).otherwise(0.0))
        .select(col("doc_id"),
          round(col("score") * 0.8 + col("boost"), 6).as("final_score"))
        .orderBy(col("final_score").desc, col("doc_id"))
        .limit(20)
    }))

  /** The full hash-featurizer pipeline in DuckDB — corpus docs plus the
    * given (negative-id, text) query rows embedded identically — ending
    * in CTE evec(id, v). Same n-gram multiset (unigrams + index-aligned
    * bigrams), same portable-hash buckets, integer counts (the
    * squared-norm sum is EXACT in any order), same double divide + float
    * round. CTE names are e-prefixed so the chain composes with the BM25
    * score CTEs (which own `corpus`/`raw`) in one WITH clause.
    */
  /** The hash-n-gram featurizer pipeline (HashEmbedder mirror) as
    * DuckDB CTEs over an arbitrary (id, text) source CTE, names
    * prefixed so two chains (e.g. corpus + preprocessed seeds) can
    * coexist in one query. Final CTE `<p>vec` has (id, v).
    */
  private def embedPipelineCtes(p: String, srcCte: String): String = {
    val bucket =
      s"(${graft.functions.PortableHash.hash60Sql("7", "gram")} % 64)"
    s"""${p}tok AS (SELECT id,
       |    string_split(${TextFunctions.normalizeSql("text")}, ' ') AS toks
       |  FROM $srcCte),
       |${p}grams AS (SELECT id, unnest(list_concat(toks,
       |    list_transform(toks[2:], (b, i) -> toks[i] || ' ' || b)))
       |    AS gram
       |  FROM ${p}tok),
       |${p}bk AS (SELECT id, $bucket AS bucket, count(*) AS w
       |  FROM ${p}grams GROUP BY id, bucket),
       |${p}mp AS (SELECT id,
       |    map_from_entries(list(struct_pack(k := bucket, v := w))) AS m
       |  FROM ${p}bk GROUP BY id),
       |${p}raw AS (SELECT id, list_transform(range(0, 64),
       |    i -> CAST(coalesce(m[i][1], 0) AS DOUBLE)) AS r
       |  FROM ${p}mp),
       |${p}vec AS (SELECT id,
       |    list_transform(r, x -> CAST(CASE WHEN nrm > 0 THEN x / nrm
       |      ELSE 0.0 END AS FLOAT)) AS v
       |  FROM (SELECT id, r,
       |      sqrt(list_aggregate(list_transform(r, x -> x * x), 'sum'))
       |        AS nrm
       |    FROM ${p}raw))""".stripMargin
  }

  private def embedCtes(extra: Seq[(Long, String)]): String = {
    val extraRows = extra
      .map { case (id, t) => s"UNION ALL SELECT $id, '$t'" }.mkString(" ")
    s"""ecorpus AS (SELECT doc_id AS id, text FROM documents
       |  $extraRows),
       |${embedPipelineCtes("e", "ecorpus")}""".stripMargin
  }

  /** QueryProcessor.preprocess mirror over an (id, text) source CTE:
    * whitespace split, lowercase abbreviation expansion keeping the
    * original token on a miss, first-occurrence case-sensitive dedup.
    * Final CTE `${p}q` has (id, text).
    */
  private def preprocessCtes(p: String, srcCte: String): String = {
    val abbrevCase = graft.search.QueryProcessor.Abbreviations
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN '$v'" }
      .mkString(" ")
    s"""${p}tk AS (SELECT id, u.t AS tok, u.i AS i
       |  FROM (SELECT id, unnest(list_transform(
       |      list_filter(regexp_split_to_array(text, '\\s+'),
       |        x -> x <> ''),
       |      (t, i) -> {'t': t, 'i': i})) AS u FROM $srcCte)),
       |${p}ex AS (SELECT id, i,
       |    CASE lower(tok) $abbrevCase ELSE tok END AS tok FROM ${p}tk),
       |${p}dd AS (SELECT id, tok, min(i) AS fi FROM ${p}ex
       |  GROUP BY id, tok),
       |${p}q AS (SELECT id, string_agg(tok, ' ' ORDER BY fi) AS text
       |  FROM ${p}dd GROUP BY id)""".stripMargin
  }

  /** Oracle mirror of [[searchLifecycle]], parameterized by the raw
    * query (Q1-Q4 outputs inlined as the expected values).
    */
  private def searchLifecycleSql(raw: String): String = {
        import graft.search.{Boilerplate, QueryProcessor}
        val processed = QueryProcessor.preprocess(raw)
        val threshold = QueryProcessor.adaptiveThreshold(raw)
        val alpha = QueryProcessor.hybridAlpha(raw)
        val variants = QueryProcessor.expand(processed)
        val kwCtes = Bm25.multiScoreSqlCtes("documents", "doc_id",
          docTokensSql, variants.map(_.split(" ").toSeq))
        val embCtesStr = embedCtes(
          variants.zipWithIndex.map { case (v, i) => (-(i + 1).toLong, v) })
        val q = raw.toLowerCase
        s"""WITH $kwCtes,
           |$embCtesStr,
           |vsims AS (SELECT c.id,
           |    ${VectorFunctions.cosineSql("c.v", "q.v")} AS sim
           |  FROM evec c CROSS JOIN (SELECT v FROM evec WHERE id < 0) q
           |  WHERE c.id >= 0),
           |vmax AS (SELECT id, MAX(sim) AS sim FROM vsims GROUP BY id
           |  HAVING MAX(sim) >= ${threshold}::DOUBLE),
           |vr AS (SELECT id, rank FROM (SELECT id,
           |    CAST(row_number() OVER (ORDER BY sim DESC, id) AS INTEGER) AS rank
           |  FROM vmax) WHERE rank <= 50),
           |ks AS (SELECT id, round(score, 6) AS score FROM merged),
           |kr AS (SELECT id, rank FROM (SELECT id,
           |    CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rank
           |  FROM ks) WHERE rank <= 50),
           |${Fusion.rrfSql(alpha)},
           |rq AS (SELECT id, round(rrf_score, 6) AS rrf_score FROM rrf),
           |meta AS (SELECT doc_id AS id, text AS content,
           |    CASE WHEN doc_id % 10 = 0 THEN '__init__'
           |      WHEN doc_id % 10 = 1 THEN 'main'
           |      WHEN doc_id % 10 = 2 THEN 'constructor'
           |      WHEN doc_id % 10 = 3 THEN 'initialize'
           |      WHEN doc_id % 10 = 4 THEN 'setUp'
           |      WHEN doc_id % 10 = 5 THEN '$raw'
           |      ELSE 'fn_' || doc_id END AS name,
           |    CASE WHEN doc_id % 4 = 0 THEN 'python'
           |      WHEN doc_id % 4 = 1 THEN 'javascript'
           |      WHEN doc_id % 4 = 2 THEN 'ruby' ELSE 'go' END AS language,
           |    'src/m' || (doc_id % 5) ||
           |      CASE WHEN doc_id % 6 = 0 THEN '/tests'
           |        WHEN doc_id % 9 = 0 THEN '/migrations' ELSE '' END ||
           |      '/f' || doc_id || '.py' AS file_path,
           |    CASE WHEN doc_id % 3 = 0 THEN 'function'
           |      WHEN doc_id % 3 = 1 THEN 'class' ELSE 'code' END AS chunk_type
           |  FROM documents),
           |b AS (SELECT m.id, r.rrf_score,
           |    least(1.0::DOUBLE, r.rrf_score +
           |      CASE WHEN lower(m.name) = '$q' THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END +
           |      CASE WHEN contains(lower(m.file_path), '$q') THEN 0.08::DOUBLE ELSE 0.0::DOUBLE END +
           |      CASE WHEN m.chunk_type = 'function' THEN 0.05::DOUBLE ELSE 0.0::DOUBLE END +
           |      CASE WHEN m.chunk_type = 'class' THEN 0.03::DOUBLE ELSE 0.0::DOUBLE END -
           |      CASE WHEN regexp_matches(m.file_path, '(^|/)tests?/') THEN 0.02::DOUBLE ELSE 0.0::DOUBLE END -
           |      CASE WHEN regexp_matches(m.content, '(?i)(licensed under|auto-generated|do not edit|generated by)')
           |        OR regexp_matches(m.file_path, '(?i)(_pb2\\.|\\.generated\\.|/migrations/)') THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END +
           |      ${Boilerplate.penaltySql("m.name", "m.language", raw)}) AS final_raw
           |  FROM rq r JOIN meta m ON m.id = r.id)
           |SELECT id AS doc_id, rrf_score, round(final_raw, 6) AS final_score
           |FROM b ORDER BY final_score DESC, doc_id LIMIT 20""".stripMargin
  }

  def oracles: Map[String, String] = {
    val bm25Ctes = Bm25.scoreSqlCtes("documents", "doc_id", docTokensSql, Query)
    val postingsCte =
      s"""p AS MATERIALIZED (SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id,
         |      unnest(string_split(${TextFunctions.normalizeSql("text")}, ' '))
         |        AS term
         |    FROM documents) WHERE term <> '')""".stripMargin

    Map(
      "bq1_boolean_search" ->
        s"""WITH $postingsCte,
           |b1 AS (SELECT 1 AS qid, a.doc_id FROM (
           |    SELECT doc_id FROM p WHERE term IN ('spark', 'join')
           |    GROUP BY doc_id HAVING count(DISTINCT term) = 2) a
           |  WHERE NOT EXISTS (SELECT 1 FROM p
           |    WHERE p.doc_id = a.doc_id AND p.term = 'slow')),
           |b2 AS (SELECT 2 AS qid, a.doc_id FROM (
           |    SELECT doc_id FROM p WHERE term = 'table' GROUP BY doc_id) a
           |  WHERE EXISTS (SELECT 1 FROM p
           |    WHERE p.doc_id = a.doc_id AND p.term IN ('fast', 'merge'))),
           |b3 AS (SELECT 3 AS qid, a.doc_id FROM (
           |    SELECT DISTINCT doc_id FROM p
           |    WHERE term IN ('window', 'batch')) a
           |  WHERE NOT EXISTS (SELECT 1 FROM p
           |    WHERE p.doc_id = a.doc_id AND p.term = 'key'))
           |SELECT qid, doc_id FROM (
           |  SELECT * FROM b1 UNION ALL SELECT * FROM b2
           |  UNION ALL SELECT * FROM b3)
           |ORDER BY qid, doc_id""".stripMargin,

      "ac1_autocomplete" ->
        s"""WITH $postingsCte,
           |v AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |  FROM p GROUP BY term),
           |c AS (SELECT substr(term, 1, 2) AS prefix, term, df,
           |    row_number() OVER (PARTITION BY substr(term, 1, 2)
           |      ORDER BY df DESC, term) AS rank
           |  FROM v WHERE length(term) >= 2)
           |SELECT prefix, term, df, CAST(rank AS INTEGER) AS rank
           |FROM c WHERE rank <= 3 ORDER BY prefix, rank""".stripMargin,
      // ev1: identical discount literals (driver-computed micro units),
      // identical ideal-ordering tiebreak, single final divisions.
      "ev1_rank_eval" -> {
        val discVals = graft.search.RankEval.discountMicros(EvalK)
          .map { case (r, m) => s"($r, ${m}::BIGINT)" }.mkString(", ")
        s"""WITH disc(rank, dm) AS (VALUES $discVals),
           |results AS (SELECT doc_id % 5 AS query_id, doc_id AS id,
           |    CAST(doc_id // 5 + 1 AS INTEGER) AS rank
           |  FROM documents WHERE doc_id < 50),
           |rel AS (SELECT doc_id % 5 AS query_id, doc_id AS id,
           |    CASE WHEN doc_id % 3 = 0 THEN 2::BIGINT
           |      WHEN doc_id % 7 = 0 THEN 1::BIGINT END AS rel
           |  FROM documents WHERE doc_id < 200
           |    AND (doc_id % 3 = 0 OR doc_id % 7 = 0)),
           |ink AS (SELECT r.query_id, r.rank, coalesce(q.rel, 0) AS rel
           |  FROM results r LEFT JOIN rel q
           |    ON q.query_id = r.query_id AND q.id = r.id
           |  WHERE r.rank <= $EvalK),
           |perq AS (SELECT ink.query_id,
           |    CAST(sum(ink.rel * d.dm) AS BIGINT) AS dcg,
           |    CAST(sum(CASE WHEN ink.rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS hits,
           |    min(CASE WHEN ink.rel > 0 THEN ink.rank END) AS first_hit
           |  FROM ink JOIN disc d ON d.rank = ink.rank
           |  GROUP BY ink.query_id),
           |ideal AS (SELECT query_id,
           |    CAST(sum(rel * dm) AS BIGINT) AS idcg
           |  FROM (SELECT query_id, rel, row_number() OVER (
           |      PARTITION BY query_id ORDER BY rel DESC, id) AS irank
           |    FROM rel) x JOIN disc ON disc.rank = x.irank
           |  WHERE x.irank <= $EvalK GROUP BY query_id),
           |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
           |  FROM rel GROUP BY query_id)
           |SELECT p.query_id,
           |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel, p.hits,
           |  CASE WHEN coalesce(i.idcg, 0) > 0
           |    THEN round(CAST(p.dcg AS DOUBLE) / i.idcg, 6)
           |    ELSE 0.0 END AS ndcg,
           |  CASE WHEN p.first_hit IS NOT NULL
           |    THEN round(1.0 / p.first_hit, 6) ELSE 0.0 END AS mrr,
           |  round(p.hits / ${EvalK.toDouble}, 6) AS precision_at_k,
           |  CASE WHEN coalesce(n.n_rel, 0) > 0
           |    THEN round(CAST(p.hits AS DOUBLE) / n.n_rel, 6)
           |    ELSE 0.0 END AS recall_at_k
           |FROM perq p LEFT JOIN ideal i USING (query_id)
           |LEFT JOIN nrel n USING (query_id)
           |ORDER BY p.query_id""".stripMargin
      },

      // ph1: positional postings via an index-carrying list_transform,
      // then one self-join per phrase term on (id, start).
      "ph1_phrase_search" -> {
        val joins = PhraseTerms.zipWithIndex.tail.map { case (t, i) =>
          s"""JOIN p p$i ON p$i.id = p0.id AND p$i.pos = p0.pos + $i
             |    AND p$i.term = '$t'""".stripMargin
        }.mkString("\n  ")
        s"""WITH tok AS (SELECT doc_id AS id,
           |    ${TextFunctions.tokensSql("text")} AS toks FROM documents),
           |praw AS (SELECT id, unnest(list_transform(toks,
           |    (t, i) -> {'term': t, 'pos': i - 1})) AS u FROM tok),
           |p AS (SELECT id, u.term AS term, u.pos AS pos FROM praw
           |  WHERE u.term <> ''),
           |m AS (SELECT p0.id FROM p p0
           |  $joins
           |  WHERE p0.term = '${PhraseTerms.head}')
           |SELECT id, CAST(count(*) AS BIGINT) AS n_matches FROM m
           |GROUP BY id ORDER BY n_matches DESC, id LIMIT 30""".stripMargin
      },

      "prox1_term_proximity" ->
        s"""WITH tok AS (SELECT doc_id AS id,
           |    ${TextFunctions.tokensSql("text")} AS toks FROM documents),
           |praw AS (SELECT id, unnest(list_transform(toks,
           |    (t, i) -> {'term': t, 'pos': i - 1})) AS u FROM tok),
           |p AS (SELECT id, u.term AS term, u.pos AS pos FROM praw
           |  WHERE u.term <> ''),
           |la AS (SELECT id, list_sort(list(DISTINCT pos)) AS pa,
           |    CAST(count(*) AS INTEGER) AS n_a
           |  FROM p WHERE term = '${ProxTerms._1}' GROUP BY id),
           |lb AS (SELECT id, list_sort(list(DISTINCT pos)) AS pb,
           |    CAST(count(*) AS INTEGER) AS n_b
           |  FROM p WHERE term = '${ProxTerms._2}' GROUP BY id),
           |j AS (SELECT la.id, la.n_a, lb.n_b,
           |    CAST(list_min(flatten(list_transform(la.pa, x ->
           |      list_transform(lb.pb, y -> abs(x - y))))) AS INTEGER)
           |      AS min_dist
           |  FROM la JOIN lb USING (id))
           |SELECT id AS doc_id, n_a, n_b, min_dist,
           |  round(1.0::DOUBLE / (1 + min_dist), 6) AS prox_score
           |FROM j ORDER BY min_dist, id LIMIT 20""".stripMargin,

      // Golden rows per template (the gh1 pattern): expected values
      // derived by hand from the documented heuristics — e.g. k=4 is
      // 7 words (+0.1) with a technical term (−0.29) and synonym
      // variants capped at 5+original.
      "qp1_query_pipeline" ->
        """WITH ks AS (SELECT DISTINCT CAST(doc_id % 8 AS INTEGER) AS k
          |  FROM documents),
          |exp(k, raw_query, processed, threshold, alpha, n_variants)
          |  AS (VALUES
          |  (0, 'db', 'database', 0.21::DOUBLE, 0.7::DOUBLE, 1),
          |  (1, 'fast scan', 'fast scan', 0.4::DOUBLE, 0.7::DOUBLE, 3),
          |  (2, 'parseFile data', 'parseFile data', 0.15::DOUBLE,
          |    0.2::DOUBLE, 1),
          |  (3, 'a.b.c lookup', 'a.b.c lookup', 0.3::DOUBLE,
          |    0.7::DOUBLE, 4),
          |  (4, 'http cache index fetch merge sort scan',
          |    'http cache index fetch merge sort scan', 0.31::DOUBLE,
          |    0.7::DOUBLE, 6),
          |  (5, 'snake_case term', 'snake_case term', 0.15::DOUBLE,
          |    0.7::DOUBLE, 1),
          |  (6, 'config auth db',
          |    'configuration authentication database', 0.4::DOUBLE,
          |    0.7::DOUBLE, 1),
          |  (7, 'obj::method call', 'obj::method call', 0.3::DOUBLE,
          |    0.2::DOUBLE, 1))
          |SELECT e.k, e.raw_query, e.processed, e.threshold, e.alpha,
          |  CAST(e.n_variants AS INTEGER) AS n_variants
          |FROM ks JOIN exp e USING (k) ORDER BY e.k""".stripMargin,

      // The full vector path in SQL (embedCtes), then the float-fold
      // cosine parity. The query embeds as row -1 of the same pipeline.
      "e2e1_vector_search" ->
        s"""WITH ${embedCtes(Seq(-1L -> E2eQuery))},
           |scored AS (SELECT c.id AS doc_id,
           |    ${VectorFunctions.cosineSql("c.v", "q.v")} AS sim
           |  FROM evec c CROSS JOIN (SELECT v FROM evec WHERE id = -1) q
           |  WHERE c.id >= 0)
           |SELECT doc_id, round(sim, 6) AS sim FROM scored
           |WHERE sim > 0
           |ORDER BY sim DESC, doc_id LIMIT 20""".stripMargin,

      // ss1: corpus featurizer chain (evec) + seed preprocess chain
      // (pq) + seed featurizer chain (qvec), then per-seed cosine
      // ranking with self excluded — rank assigned before the
      // threshold filter, like the engine.
      "ss1_search_similar" -> {
        s"""WITH ${embedCtes(Seq.empty)},
           |sraw AS (SELECT doc_id AS id, text FROM documents
           |  WHERE doc_id % 101 = 0),
           |${preprocessCtes("p", "sraw")},
           |${embedPipelineCtes("q", "pq")},
           |sscored AS (SELECT q.id AS qid, c.id AS id,
           |    ${VectorFunctions.cosineSql("c.v", "q.v")} AS sim
           |  FROM evec c CROSS JOIN qvec q WHERE c.id <> q.id),
           |sranked AS (SELECT qid, id, sim,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, id) AS INTEGER) AS rank
           |  FROM sscored)
           |SELECT qid, id, round(sim, 6) AS sim, rank FROM sranked
           |WHERE rank <= 10 AND sim >= 0.0
           |ORDER BY qid, rank""".stripMargin
      },

      // cv1: code-text view → featurizer chain → query top-20 → +0.15
      // → re-rank; the query embeds as id -1 of the same chain.
      "cv1_code_vectors" -> {
        val pq = graft.search.QueryProcessor.preprocess(CvQuery)
        s"""WITH cmeta AS (SELECT doc_id AS id,
           |    'fn_' || (doc_id % 40) AS name,
           |    'Mod' || (doc_id % 7) || '.fn_' || (doc_id % 40) AS hier,
           |    array_to_string(list_slice(
           |      string_split(${TextFunctions.normalizeSql("text")}, ' '),
           |      1, 5), ' ') AS sig,
           |    'call_' || (doc_id % 11) || ' ' || 'helper_' || (doc_id % 5)
           |      AS calls
           |  FROM documents),
           |ctext AS (SELECT id,
           |    name || ' ' || hier || ' ' || sig || ' ' || calls AS text
           |  FROM cmeta
           |  UNION ALL SELECT -1, '$pq'),
           |${embedPipelineCtes("c", "ctext")},
           |csims AS (SELECT c.id,
           |    ${VectorFunctions.cosineSql("c.v", "q.v")} AS csim
           |  FROM cvec c CROSS JOIN (SELECT v FROM cvec WHERE id = -1) q
           |  WHERE c.id >= 0),
           |ctop AS (SELECT id FROM (SELECT id,
           |    row_number() OVER (ORDER BY csim DESC, id) AS rn FROM csims)
           |  WHERE rn <= 20),
           |res AS (SELECT doc_id AS id,
           |    CAST((doc_id * 7) % 100 AS DOUBLE) / 100.0 AS score
           |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 300),
           |enr AS (SELECT r.id, r.score +
           |    CASE WHEN t.id IS NOT NULL THEN 0.15::DOUBLE
           |      ELSE 0.0::DOUBLE END AS es
           |  FROM res r LEFT JOIN ctop t USING (id))
           |SELECT id AS chunk_id, round(es, 6) AS enriched_score,
           |  CAST(row_number() OVER (ORDER BY es DESC, id) AS INTEGER)
           |    AS rank
           |FROM enr ORDER BY rank""".stripMargin
      },

      // e2e2: every stage mirrored — the variant-merged BM25 CTEs own
      // corpus/raw, the e-prefixed featurizer CTEs embed all four
      // variants as negative ids, the rrf/boost arithmetic replays the
      // engine's addition order term by term, and the Q1-Q4 outputs
      // (threshold, alpha, variant list) are inlined as the values the
      // heuristics MUST produce for this query.
      "e2e2_search_pipeline" -> searchLifecycleSql(E2e2Query),

      "sbc1_search_by_context" ->
        searchLifecycleSql((SbcDescription +: SbcFocus).mkString(" ")),

      // Q18: the e2e2 lifecycle SQL as the result leg; the analysis
      // row's literals are the hand-derived QueryProcessor outputs for
      // "fast index scan" (3 words + technical term -> 0.5-0.29-0.1;
      // non-identifier alpha; fast/index synonym variants in
      // sorted-within-group, token-order traversal).
      "swc1_search_with_context" ->
        // concatenated, NOT interpolated into a stripMargin template:
        // the lifecycle SQL is already margin-stripped and a second
        // strip would eat leading || concat pipes
        ("WITH res AS MATERIALIZED (\n" + searchLifecycleSql(E2e2Query) +
          "\n),\n" +
          """a(kind, doc_id, v1, v2, txt) AS (VALUES
            |  ('A', -1, 0.11::DOUBLE, 0.7::DOUBLE,
            |   'fast index scan => quick index scan|rapid index scan|fast catalog scan'))
            |SELECT kind, CAST(doc_id AS BIGINT) AS doc_id, v1, v2, txt
            |FROM a
            |UNION ALL
            |SELECT 'R', doc_id, rrf_score, final_score, '' FROM res
            |ORDER BY kind, v2 DESC, doc_id""".stripMargin),

      // mv1: the provable greedy outcome — per-cluster argmax by
      // (rel desc, id), selection ordered by rel desc; intra-list sim 0
      // for the one-per-cluster set, same-cluster-pairs/15 for plain
      // top-6.
      "mv1_mmr_eval" ->
        """WITH c AS (SELECT doc_id AS id,
          |    CAST(doc_id % 6 AS INTEGER) AS cluster,
          |    0.5 + CAST((doc_id * 37) % 50 AS DOUBLE) / 100.0 AS rel
          |  FROM documents WHERE doc_id < 60),
          |best AS (SELECT id, cluster, rel, row_number() OVER (
          |    PARTITION BY cluster ORDER BY rel DESC, id) AS rn FROM c),
          |sel AS (SELECT id, cluster, rel, CAST(row_number() OVER (
          |    ORDER BY rel DESC, id) AS INTEGER) AS sel_rank
          |  FROM best WHERE rn = 1),
          |topk AS (SELECT cluster FROM c ORDER BY rel DESC, id LIMIT 6),
          |tp AS (SELECT coalesce(SUM(n * (n - 1) / 2), 0) AS sp
          |  FROM (SELECT count(*) AS n FROM topk GROUP BY cluster))
          |SELECT s.sel_rank, s.id, s.cluster, round(s.rel, 6) AS rel,
          |  0.0::DOUBLE AS mmr_intra_sim,
          |  round(tp.sp / 15.0, 6) AS topk_intra_sim
          |FROM sel s CROSS JOIN tp ORDER BY s.sel_rank""".stripMargin,

      "kb1_kg_boost" ->
        """WITH results AS (SELECT 'c' || doc_id AS chunk_id,
          |    'src/f' || (doc_id % 10) || '.py' AS file_path,
          |    'fn_' || doc_id AS hierarchy_path,
          |    CAST((doc_id * 7) % 100 AS DOUBLE) / 100.0 AS score
          |  FROM documents WHERE doc_id % 5 = 0),
          |e AS (SELECT 'src/f' || (doc_id % 10) || '.py::fn_' || doc_id AS src,
          |    'n' || (doc_id % 7) AS dst
          |  FROM documents WHERE doc_id % 5 = 0
          |  UNION ALL
          |  SELECT 'n' || ((doc_id + 1) % 7),
          |    'src/f' || (doc_id % 10) || '.py::fn_' || doc_id
          |  FROM documents WHERE doc_id % 10 = 0),
          |v AS (SELECT 'n' || doc_id AS id,
          |    CASE WHEN doc_id = 0 THEN 'scan_runner'
          |      WHEN doc_id = 1 THEN 'merge_helper'
          |      WHEN doc_id = 2 THEN 'scan_merge_core'
          |      WHEN doc_id = 3 THEN 'parser'
          |      WHEN doc_id = 4 THEN 'writer'
          |      WHEN doc_id = 5 THEN 'index_scan'
          |      ELSE 'noop' END AS name
          |  FROM documents WHERE doc_id < 7),
          |rel AS (SELECT src AS eid, dst AS nbr FROM e
          |  UNION ALL SELECT dst, src FROM e),
          |hits AS (SELECT r.eid, CAST(count(*) AS BIGINT) AS nh
          |  FROM rel r JOIN v ON v.id = r.nbr
          |  WHERE contains(lower(v.name), 'scan')
          |    OR contains(lower(v.name), 'merge')
          |  GROUP BY r.eid),
          |b AS (SELECT res.chunk_id,
          |    res.score + coalesce(h.nh * 0.02::DOUBLE, 0.0::DOUBLE)
          |      AS kg_boosted
          |  FROM results res LEFT JOIN hits h
          |    ON h.eid = res.file_path || '::' || res.hierarchy_path)
          |SELECT chunk_id, round(kg_boosted, 6) AS kg_boosted,
          |  CAST(row_number() OVER (ORDER BY kg_boosted DESC, chunk_id)
          |    AS INTEGER) AS rank
          |FROM b ORDER BY rank""".stripMargin,

      "re1_result_enhance" ->
        """WITH files AS (SELECT 'f' || doc_id AS file_path,
          |    array_to_string(list_transform(range(1, 11),
          |      i -> 'line' || doc_id || '_' || i), chr(10)) AS content
          |  FROM documents WHERE doc_id < 20),
          |results AS (SELECT 'c' || doc_id AS chunk_id,
          |    'f' || (doc_id % 25) AS file_path,
          |    CAST(doc_id % 10 + 1 AS INTEGER) AS start_line,
          |    CAST(doc_id % 10 + 2 AS INTEGER) AS end_line
          |  FROM documents WHERE doc_id % 15 = 0),
          |j AS (SELECT r.chunk_id, r.file_path, r.start_line, r.end_line,
          |    string_split(f.content, chr(10)) AS all_lines
          |  FROM results r LEFT JOIN files f USING (file_path))
          |SELECT chunk_id, file_path, start_line, end_line,
          |  all_lines IS NULL AS file_missing,
          |  CASE WHEN all_lines IS NOT NULL AND start_line > 1
          |    THEN array_to_string(list_slice(all_lines,
          |      greatest(start_line - 3, 1),
          |      greatest(start_line - 3, 1) + least(3, start_line - 1) - 1),
          |      ';')
          |    ELSE '' END AS ctx_before,
          |  CASE WHEN all_lines IS NOT NULL
          |    THEN array_to_string(list_slice(all_lines,
          |      end_line + 1, end_line + 3), ';')
          |    ELSE NULL END AS ctx_after
          |FROM j ORDER BY chunk_id""".stripMargin,

      "b1_bm25_topk" ->
        s"""WITH $bm25Ctes
           |SELECT id AS doc_id, round(score, 6) AS score FROM bm25
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

      // br1: weighted p0/postings replace the single-field head, the
      // rest of the BM25 chain (doc_stats onward) is the UNCHANGED
      // scoreSqlCtes tail — mirroring how Bm25F reuses Bm25 in Spark.
      "br1_bm25f_fields" -> {
        val base = Bm25.scoreSqlCtes("documents", "doc_id",
          TextFunctions.tokensSql("text"), BrQuery)
        val tail = base.substring(base.indexOf("doc_stats AS"))
        s"""WITH tokd AS (SELECT doc_id,
           |    ${TextFunctions.tokensSql("text")} AS toks FROM documents),
           |p0 AS (
           |  SELECT doc_id AS id, unnest(toks[1:2]) AS term, 3 AS w
           |    FROM tokd
           |  UNION ALL SELECT doc_id, unnest(toks), 1 FROM tokd),
           |postings AS (SELECT id, term, CAST(sum(w) AS BIGINT) AS tf
           |  FROM p0 GROUP BY id, term),
           |$tail
           |SELECT id AS doc_id, round(score, 6) AS score FROM bm25
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
      },

      // b2's merge ≡ rebuild contract: the oracle IS the full rebuild.
      "b2_bm25_incremental" ->
        s"""WITH $bm25Ctes
           |SELECT id AS doc_id, round(score, 6) AS score FROM bm25
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

      "h1_hybrid_rrf" ->
        s"""WITH $bm25Ctes,
           |qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sims AS (SELECT e.vec_id AS id,
           |    ${VectorFunctions.cosineSql("e.embedding", "qv.qvec")} AS sim
           |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
           |vr AS (SELECT id, rank FROM (SELECT id,
           |    CAST(row_number() OVER (ORDER BY sim DESC, id) AS INTEGER) AS rank
           |  FROM sims) WHERE rank <= 50),
           |ks AS (SELECT id, round(score, 6) AS score FROM bm25),
           |kr AS (SELECT id, rank FROM (SELECT id,
           |    CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rank
           |  FROM ks) WHERE rank <= 50),
           |${Fusion.rrfSql(Alpha)}
           |SELECT id, round(rrf_score, 6) AS rrf_score FROM rrf
           |ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin,

      "hb1_hybrid_batch" -> {
        val prefix = bm25Ctes.substring(0, bm25Ctes.indexOf("q(term, qtf) AS"))
        val qbVals = BatchQueries.flatMap { case (q, toks) =>
          toks.groupBy(identity).toSeq.sortBy(_._1).map { case (t, os) =>
            s"($q, '$t', ${os.size})"
          }
        }.mkString(", ")
        s"""WITH ${prefix}qb(qid, term, qtf) AS (VALUES $qbVals),
           |ksb AS (SELECT q.qid, p.id,
           |    round(SUM(q.qtf * idf.idf * (p.tf * (${Bm25.K1} + 1)) /
           |        (p.tf + ${Bm25.K1} * (1 - ${Bm25.B} + ${Bm25.B} * ds.dl / c.avgdl))), 6)
           |      AS score
           |  FROM postings p
           |  JOIN qb q ON q.term = p.term
           |  JOIN idf ON idf.term = p.term
           |  JOIN doc_stats ds ON ds.id = p.id
           |  CROSS JOIN corpus c
           |  GROUP BY q.qid, p.id),
           |kr AS (SELECT qid, id, rank FROM (SELECT qid, id,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY score DESC, id) AS INTEGER) AS rank
           |  FROM ksb) WHERE rank <= 50),
           |qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
           |  WHERE vec_id <= 2),
           |sims AS (SELECT q.qid, e.vec_id AS id,
           |    ${VectorFunctions.cosineSql("e.embedding", "q.qvec")} AS sim
           |  FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> q.qid),
           |vr AS (SELECT qid, id, rank FROM (SELECT qid, id,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, id) AS INTEGER) AS rank
           |  FROM sims) WHERE rank <= 50),
           |fused AS (SELECT COALESCE(vr.qid, kr.qid) AS qid,
           |    COALESCE(vr.id, kr.id) AS id,
           |    COALESCE($Alpha / (${Fusion.RrfK} + vr.rank), 0.0) +
           |    COALESCE(${1 - Alpha} / (${Fusion.RrfK} + kr.rank), 0.0)
           |      AS rrf_raw
           |  FROM vr FULL OUTER JOIN kr
           |    ON vr.qid = kr.qid AND vr.id = kr.id),
           |mx AS (SELECT qid, MAX(rrf_raw) AS rrf_max FROM fused
           |  GROUP BY qid),
           |r AS (SELECT qid, id, round(rrf_raw / rrf_max, 6) AS rrf_score
           |  FROM fused JOIN mx USING (qid)),
           |o AS (SELECT qid, id, rrf_score,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY rrf_score DESC, id) AS INTEGER) AS rank FROM r)
           |SELECT qid, id, rrf_score, rank FROM o WHERE rank <= 10
           |ORDER BY qid, rank""".stripMargin
      },

      "a5_variant_merge" ->
        s"""WITH ${Bm25.multiScoreSqlCtes("documents", "doc_id", docTokensSql, ExpansionVariants)}
           |SELECT id AS doc_id, round(score, 6) AS score FROM merged
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

      "h2_heuristic_boost" ->
        s"""WITH $bm25Ctes
           |SELECT d.doc_id,
           |  round(b.score * 0.8 +
           |    (CASE WHEN contains(d.text, 'fast table') THEN 0.15 ELSE 0.0 END +
           |     CASE WHEN contains(d.text, 'spark') THEN 0.05 ELSE 0.0 END +
           |     CASE WHEN d.source = 'src1' THEN 0.08 ELSE 0.0 END +
           |     CASE WHEN d.n_chars > 400 THEN -0.02 ELSE 0.0 END), 6)
           |    AS final_score
           |FROM bm25 b JOIN documents d ON b.id = d.doc_id
           |ORDER BY final_score DESC, d.doc_id LIMIT 20""".stripMargin)
  }
}
