package graft

import org.apache.spark.sql.functions._

import graft.core.Stats
import graft.search.SearchEngine

class StatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val engine = new SearchEngine(spark)
  private lazy val (chunks, vectors) = {
    val (c, v) = engine.buildIndex(sampleRepo)
    (c.cache(), v.cache())
  }

  test("index stats aggregate counts and histograms") {
    val s = Stats.indexStats(chunks, vectors)
    assert(s.total_chunks == chunks.count())
    assert(s.total_files == 3)
    assert(s.embedded_chunks == s.total_chunks && s.unembedded_chunks == 0)
    assert(s.languages.keySet == Set("python", "javascript", "markdown"))
    assert(s.chunk_types.contains("method"))
  }

  test("health: clean index passes, injected corruption caught") {
    val h = Stats.health(chunks, vectors, expectedDim = 64)
    assert(h.healthy, h.issues.mkString(","))
    // orphan vector + wrong dim
    val corrupt = vectors.limit(1)
      .withColumn("chunk_id", lit("nonexistent"))
      .withColumn("vector", slice(col("vector"), 1, 10))
    val h2 = Stats.health(chunks, vectors.unionByName(corrupt), 64)
    assert(!h2.healthy)
    assert(h2.issues.exists(_.contains("orphan")))
    assert(h2.issues.exists(_.contains("dimension")))
  }

  test("search_with_context returns analysis alongside results") {
    val (results, analysis) = engine.searchWithContext(vectors, "find config", 5)
    assert(results.count() > 0)
    assert(analysis("preprocessed") == "find configuration")
    assert(analysis("related_queries").asInstanceOf[Seq[String]].nonEmpty)
  }

  test("boilerplate content is penalized by the boost stage") {
    val df = Seq(
      ("c1", "normal code here", "/src/a.py", "function", "alpha", "python", 0.5),
      ("c2", "auto-generated do not edit", "/src/b.py", "function", "beta", "python", 0.5))
      .toDF("chunk_id", "content", "file_path", "chunk_type", "name", "language", "score")
    val out = engine.boost(df, "zzz", "score")
      .select("chunk_id", "boosted").as[(String, Double)].collect().toMap
    assert(out("c1") - out("c2") >= 0.15 - 1e-12)
  }
}
