package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.search.{Bm25, Fusion, QueryProcessor, SearchEngine, Tokenizer}

/** The fixed-job search paths against the declarative pipelines they
  * replace: `keywordSearch` against [[Bm25.score]] (scores within
  * 1e-12, same ranks), driver RRF against [[Fusion.rrf]] (bit-identical)
  * and `hybridSearch` against the lazy RRF composition (same rows,
  * ranks and boosted scores). Corpus: the sample repo's persisted index
  * plus one chunk with no tokens.
  */
class SearchEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val engine = new SearchEngine(spark)

  private lazy val (chunks, vectors) = {
    val dir = Files.createTempDirectory("search-eq").toFile
    val cp = new java.io.File(dir, "chunks").getAbsolutePath
    val vp = new java.io.File(dir, "vectors").getAbsolutePath
    engine.indexRepo(sampleRepo, cp, vp)
    (IndexStore.read(spark, cp), IndexStore.read(spark, vp))
  }

  private lazy val withEmpty: DataFrame = {
    val cols = Seq("chunk_id", "content", "name", "file_path", "chunk_type")
    chunks.select(cols.map(col): _*)
      .unionByName(Seq(("zz-no-tokens", "", "", "", "")).toDF(cols: _*))
  }

  /** `ch` with its BM25 tokens, as the keyword search tokenizes them. */
  private def withToks(ch: DataFrame): DataFrame = {
    val tokenizeUdf = udf((s: String) => Tokenizer.tokenize(s))
    ch.withColumn("toks", tokenizeUdf(concat_ws(" ", col("content"),
      col("name"), col("name"), col("file_path"), col("chunk_type"))))
  }

  /** The keyword pipeline as it was: the BM25 index derived inline. */
  private def referenceKeyword(ch: DataFrame, query: String,
      limit: Int): DataFrame = {
    val scored = Bm25.score(spark,
        Bm25.postings(withToks(ch), "chunk_id", col("toks")), queryTokens(query))
      .withColumnRenamed("id", "chunk_id")
      .filter(col("score") > 0)
    Fusion.ranked(scored, "chunk_id", "score", limit)
  }

  private def rows(df: DataFrame, scoreCol: String): Seq[(String, Int, Double)] =
    df.select(col("chunk_id"), col("rank"), col(scoreCol)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq

  private def queryTokens(q: String) =
    Tokenizer.tokenize(QueryProcessor.preprocess(q))

  /** df of `term` over `withEmpty` and the number of chunks with tokens. */
  private def dfAndN(term: String): (Long, Long) = {
    val r = withToks(withEmpty).agg(
      count(when(array_contains(col("toks"), term), 1)),
      count(when(size(col("toks")) > 0, 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def assertKeywordEqual(query: String): Seq[(String, Int, Double)] = {
    val want = rows(referenceKeyword(withEmpty, query, 100), "score")
    val got = rows(engine.keywordSearch(withEmpty, query, 100), "score")
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)), query)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) <= 1e-12, s"$query ${g._1}: ${g._3} vs ${w._3}")
    }
    got
  }

  test("keywordSearch equals Bm25.score: identifier query") {
    assert(assertKeywordEqual("load_config").nonEmpty)
  }

  test("keywordSearch equals Bm25.score: multi-term query") {
    assert(queryTokens("parse file contents").distinct.size >= 3)
    assert(assertKeywordEqual("parse file contents").size > 1)
  }

  test("keywordSearch equals Bm25.score: repeated query term (qtf = 2)") {
    val q = "parse.file parse-file"
    assert(queryTokens(q).count(_ == "parse") == 2)
    assert(assertKeywordEqual(q).nonEmpty)
  }

  test("keywordSearch equals Bm25.score: term absent from the corpus") {
    assert(assertKeywordEqual("zyzzyvaqq").isEmpty)
    assert(assertKeywordEqual("zyzzyvaqq parse").nonEmpty)
  }

  test("keywordSearch equals Bm25.score: query with no tokens") {
    assert(queryTokens("?? 42").isEmpty)
    assert(assertKeywordEqual("?? 42").isEmpty)
  }

  test("keywordSearch equals Bm25.score: df > N/2 engages the epsilon floor") {
    // every chunk's file_path lies under src/test/resources
    val (df, n) = dfAndN("resources")
    assert(df * 2 > n, s"df $df, N $n")
    assert(assertKeywordEqual("resources").nonEmpty)
    assert(assertKeywordEqual("resources parse").nonEmpty)
  }

  test("keywordSearch equals Bm25.score: a chunk with zero tokens") {
    val (_, n) = dfAndN("parse")
    assert(n == withEmpty.count() - 1, "exactly one chunk has no tokens")
    val got = assertKeywordEqual("parse file")
    assert(!got.map(_._1).contains("zz-no-tokens"))
  }

  test("driver RRF equals Fusion.rrf bit for bit") {
    def df(m: Map[String, Int]) = m.toSeq.toDF("id", "rank")
    val cases = Seq(
      "overlapping" -> (Map("a" -> 1, "b" -> 2, "c" -> 3), Map("b" -> 1, "d" -> 2, "a" -> 3)),
      "disjoint" -> (Map("a" -> 1, "b" -> 2), Map("c" -> 1, "d" -> 2, "e" -> 3)),
      "keyword side empty" -> (Map("a" -> 1, "b" -> 2), Map.empty[String, Int]),
      "vector side empty" -> (Map.empty[String, Int], Map("c" -> 1, "d" -> 2)))
    for ((name, (v, k)) <- cases; alpha <- Seq(0.2, 0.3, 0.7)) {
      val want = Fusion.rrf(df(v), df(k), alpha).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = Fusion.rrfLocal(v, k, alpha)
      assert(got.size == want.size, name)
      assert(got.toMap == want, s"$name alpha $alpha")
    }
    assert(Fusion.rrfLocal(Map.empty, Map.empty, 0.5).isEmpty)
  }

  test("hybridSearch equals the lazy RRF composition") {
    for ((q, given) <- Seq("search index query", "FileParser",
        "parse file contents", "greet user", "resources").map(_ -> None) :+
        ("greet user" -> Some(0.3))) {
      val alpha = given.getOrElse(QueryProcessor.hybridAlpha(q))
      val v = engine.vectorSearch(vectors, q, 10, threshold = Some(0.0))
        .select(col("chunk_id").as("id"), col("rank"))
      val k = referenceKeyword(chunks, q, 10)
        .select(col("chunk_id").as("id"), col("rank"))
      val fused = Fusion.rrf(v, k, alpha)
        .withColumnRenamed("id", "chunk_id")
        .join(vectors, Seq("chunk_id"), "left")
      val want = Fusion.ranked(engine.boost(fused, q, "rrf_score"),
        "chunk_id", "boosted", 5)
      val got = engine.hybridSearch(vectors, q, 5, given)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(rows(got, "boosted") == rows(want, "boosted"), q)
      assert(rows(got, "rrf_score") == rows(want, "rrf_score"), q)
    }
  }

  /** `hybridSearch` over `vecs` against the lazy RRF composition, with
    * `vecs` as the keyword corpus too: the table the search reads.
    */
  private def assertHybridEqual(vecs: DataFrame, q: String,
      limit: Int = 5): Seq[(String, Int, Double)] = {
    val v = engine.vectorSearch(vecs, q, limit * 2, threshold = Some(0.0))
      .select(col("chunk_id").as("id"), col("rank"))
    val k = referenceKeyword(vecs, q, limit * 2)
      .select(col("chunk_id").as("id"), col("rank"))
    val fused = Fusion.rrf(v, k, QueryProcessor.hybridAlpha(q))
      .withColumnRenamed("id", "chunk_id")
      .join(vecs, Seq("chunk_id"), "left")
    val want = Fusion.ranked(engine.boost(fused, q, "rrf_score"),
      "chunk_id", "boosted", limit)
    val got = engine.hybridSearch(vecs, q, limit)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(rows(got, "rrf_score") == rows(want, "rrf_score"), q)
    val boosted = rows(got, "boosted")
    assert(boosted == rows(want, "boosted"), q)
    boosted
  }

  test("hybridSearch equals the lazy RRF composition: query with no tokens") {
    assert(queryTokens("?? 42").isEmpty)
    assert(assertHybridEqual(vectors, "?? 42").size == 5)
  }

  test("hybridSearch equals the lazy RRF composition: term absent from the corpus") {
    assert(referenceKeyword(vectors, "zyzzyvaqq", 10).isEmpty)
    assert(assertHybridEqual(vectors, "zyzzyvaqq").size == 5)
    assert(assertHybridEqual(vectors, "zyzzyvaqq parse").size == 5)
  }

  test("hybridSearch equals the lazy RRF composition: a chunk with zero tokens") {
    // the zero-token chunk shares the vector of the query's best vector
    // hit, so it ranks on the vector side and never on the keyword side
    val q = "parse file"
    val best = engine.vectorSearch(vectors, q, 1, threshold = Some(0.0))
      .select("chunk_id").head().getString(0)
    val empty = vectors.filter(col("chunk_id") === best)
      .withColumn("chunk_id", lit("zz-no-tokens"))
      .withColumns(Seq("content", "name", "file_path", "chunk_type")
        .map(_ -> lit("")).toMap)
    val vecs = vectors.unionByName(empty)
    assert(withToks(vecs).filter(size(col("toks")) === 0)
      .select("chunk_id").as[String].collect().toSeq == Seq("zz-no-tokens"))
    assert(assertHybridEqual(vecs, q, 20).map(_._1).contains("zz-no-tokens"))
  }
}
