package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.embed.HashEmbedder
import graft.graph.Kg
import graft.index.IndexStore
import graft.ingest.FileDiscovery
import graft.search.SearchEngine

/** Specs for the late search-pipeline stages (A5/Q10/Q12/Q14, S12, S4). */
class PipelineStagesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val engine = new SearchEngine(spark)
  private lazy val (chunks, vectors) = {
    val (c, v) = engine.buildIndex(sampleRepo)
    (c.cache(), v.cache())
  }

  test("variant merge: expanded query never scores below the original") {
    val plain = engine.vectorSearch(vectors, "find config", 10, Some(0.0))
      .select(col("chunk_id"), col("similarity_score").as("s0"))
    val merged = engine.searchWithExpansion(vectors, "find config", 10)
      .select(col("chunk_id"), col("similarity_score").as("s1"))
    val joined = plain.join(merged, Seq("chunk_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(r.getAs[Double]("s1") >= r.getAs[Double]("s0") - 1e-12))
  }

  test("rerank proxy lifts exact-token matches") {
    val results = engine.vectorSearch(vectors, "parse file", 10, Some(0.0))
    val reranked = engine.rerankProxy(results, "parse file", 5)
    val top = reranked.orderBy(col("rank")).select("name").as[String].collect()
    assert(top.nonEmpty)
    assert(reranked.count() <= 5)
    // a chunk literally containing both tokens should sit at/near the top
    assert(top.take(3).exists(n =>
      n.toLowerCase.contains("parse") || n == "Query syntax"))
  }

  test("kg boost adds increments only for term-related entities") {
    val kg = Kg.fromChunks(chunks)
    val results = engine.vectorSearch(vectors, "parse", 10, Some(0.0))
    val boosted = engine.kgBoost(results, kg, "parse", "similarity_score")
    val rows = boosted.select("similarity_score", "kg_boosted").collect()
    rows.foreach { r =>
      val d = r.getDouble(1) - r.getDouble(0)
      assert(d >= -1e-12 && (d < 1e-12 || d >= 0.02 - 1e-12))
    }
  }

  test("enhancement attaches context lines and stale flag") {
    val files = FileDiscovery.discover(spark, sampleRepo).toDF()
    val results = engine.vectorSearch(vectors, "parse file", 5, Some(0.0))
    val enhanced = engine.enhance(results, files)
    val r = enhanced.filter(!col("file_missing")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[scala.collection.Seq[String]]("context_before") != null)
    }
    // stale: file paths not on disk anymore → file_missing
    val stale = engine.enhance(results, files.filter(lit(false)))
    assert(stale.filter(col("file_missing")).count() == results.count())
  }

  test("embedding cache: second pass hits cache, results identical") {
    val dir = Files.createTempDirectory("graft-cache")
    val cachePath = dir.resolve("cache").toString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("id", "text")
    val first = HashEmbedder.embedWithCache(spark, docs, "id", "text", cachePath)
      .orderBy("id").as[(Long, Seq[Float])].collect()
    val cached = spark.read.parquet(cachePath)
    assert(cached.count() == 2)
    val second = HashEmbedder.embedWithCache(spark, docs, "id", "text", cachePath)
      .orderBy("id").as[(Long, Seq[Float])].collect()
    assert(first.toSeq == second.toSeq)
    // direct embed equals cached path
    val direct = HashEmbedder.embed(docs, "id", "text")
      .orderBy("id").as[(Long, Seq[Float])].collect()
    assert(direct.toSeq == first.toSeq)
  }

  test("compaction rewrites to fewer files, same data") {
    val dir = Files.createTempDirectory("graft-compact")
    val p = dir.resolve("t").toString
    spark.range(1000).repartition(20).write.parquet(p)
    val before = new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    IndexStore.compact(spark, p)
    val after = new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before)
    assert(spark.read.parquet(p).count() == 1000)
  }
}
