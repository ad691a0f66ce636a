package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.search.SearchEngine

/** End-to-end: index the sample repo fixture, run searches, incremental
  * reindex after edits (SURVEY §7 step 5 "minimum end-to-end slice").
  */
class EngineSpec extends SparkSpec {
  lazy val engine = new SearchEngine(spark)

  private def withTempDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("graft-test")
    try f(dir)
    finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("discovery skips node_modules and dotfiles, maps languages") {
    val files = graft.ingest.FileDiscovery.discover(spark, sampleRepo).collect()
    val paths = files.map(_.file_path)
    assert(paths.exists(_.endsWith("parser.py")))
    assert(paths.exists(_.endsWith("search.js")))
    assert(paths.exists(_.endsWith("guide.md")))
    assert(!paths.exists(_.contains("node_modules")))
    assert(!paths.exists(_.endsWith(".hidden")))
    assert(files.find(_.file_path.endsWith("parser.py")).get.language == "python")
  }

  test("buildIndex produces chunks and unit-norm vectors") {
    val (chunks, vectors) = engine.buildIndex(sampleRepo)
    val c = chunks.collect()
    assert(c.length > 8)
    val names = c.map(_.getAs[String]("name")).toSet
    assert(Set("FileParser", "parse_file", "ConfigLoader", "discover_files",
      "searchIndex", "SearchIndex", "Installation").subsetOf(names))
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val norms = vectors
      .select(VectorFunctions.dotF(col("vector"), col("vector")).as("n2"))
      .collect().map(_.getFloat(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    assert(vectors.count() == chunks.count())
  }

  test("vector search: 'parse file' finds the parser") {
    val (_, vectors) = engine.buildIndex(sampleRepo)
    val hits = engine.vectorSearch(vectors, "parse file", 5, Some(0.0)).collect()
    assert(hits.nonEmpty)
    val topNames = hits.take(3).map(_.getAs[String]("name")).toSeq
    assert(topNames.exists(n => n.toLowerCase.contains("parse")))
  }

  test("keyword search finds exact identifiers") {
    val (chunks, _) = engine.buildIndex(sampleRepo)
    val hits = engine.keywordSearch(chunks, "load_config", 5).collect()
    assert(hits.nonEmpty)
  }

  test("hybrid search returns ranked fused results") {
    val (_, vectors) = engine.buildIndex(sampleRepo)
    val hits = engine.hybridSearch(vectors, "search index query", 5).collect()
    assert(hits.nonEmpty && hits.length <= 5)
    val ranks = hits.map(_.getAs[Int]("rank")).sorted.toSeq
    assert(ranks == (1 to hits.length))
  }

  test("incremental reindex picks up changes, deletes, and moves") {
    withTempDir { dir =>
      val repo = dir.resolve("repo"); Files.createDirectories(repo)
      Files.writeString(repo.resolve("one.py"), "def alpha():\n    return 1\n")
      Files.writeString(repo.resolve("two.py"), "def beta():\n    return 2\n")
      val chunksPath = dir.resolve("chunks").toString
      val vectorsPath = dir.resolve("vectors").toString
      engine.indexRepo(repo.toString, chunksPath, vectorsPath)
      val before = spark.read.parquet(chunksPath).collect()
      assert(before.map(_.getAs[String]("name")).toSet == Set("alpha", "beta"))

      // change one file, delete the other, add a third
      Files.writeString(repo.resolve("one.py"), "def alpha():\n    return 42\n")
      Files.delete(repo.resolve("two.py"))
      Files.writeString(repo.resolve("three.py"), "def gamma():\n    return 3\n")
      engine.incrementalIndex(repo.toString, chunksPath, vectorsPath)
      val after = spark.read.parquet(chunksPath).collect()
      assert(after.map(_.getAs[String]("name")).toSet == Set("alpha", "gamma"))
      assert(after.find(_.getAs[String]("name") == "alpha").get
        .getAs[String]("content").contains("42"))

      // move: rename three.py without content change → path rewrite only
      val beforeIds = spark.read.parquet(chunksPath)
        .filter(org.apache.spark.sql.functions.col("name") === "gamma")
        .select("chunk_id").collect().map(_.getString(0)).toSet
      Files.move(repo.resolve("three.py"), repo.resolve("renamed.py"))
      engine.incrementalIndex(repo.toString, chunksPath, vectorsPath)
      val moved = spark.read.parquet(chunksPath).collect()
      val gamma = moved.find(_.getAs[String]("name") == "gamma").get
      assert(gamma.getAs[String]("file_path").endsWith("renamed.py"))
      assert(beforeIds.contains(gamma.getAs[String]("chunk_id")))
    }
  }

  test("searchSimilar: code-to-code query") {
    val (_, vectors) = engine.buildIndex(sampleRepo)
    val anyId = vectors.select("chunk_id").collect().head.getString(0)
    val hits = engine.searchSimilar(vectors, anyId, 3).collect()
    assert(hits.nonEmpty)
    assert(!hits.map(_.getAs[String]("chunk_id")).contains(anyId))
  }

  test("preprocessCol matches the driver-side preprocess exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val queries = Seq(
      "db config lookup", "  fast   scan\nmerge  ", "Auth AUTH auth",
      "table scan table scan", "impl of the impl", "one", "CamelCase x_y")
    val got = queries.toDF("q")
      .select(graft.search.QueryProcessor.preprocessCol(col("q")))
      .as[String].collect().toSeq
    assert(got == queries.map(graft.search.QueryProcessor.preprocess))
  }

  test("searchSimilarBatch: per-seed ranked results, self excluded") {
    val (_, vectors) = engine.buildIndex(sampleRepo)
    import org.apache.spark.sql.functions.col
    val seeds = vectors.select(col("chunk_id"), col("content")).limit(2)
    val seedIds = seeds.collect().map(_.getString(0)).toSet
    val hits = engine.searchSimilarBatch(
      vectors.select(col("chunk_id"), col("vector")), seeds, 3).collect()
    assert(hits.nonEmpty)
    val byQ = hits.groupBy(_.getAs[String]("qid"))
    assert(byQ.keySet == seedIds)
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 3)
      assert(!rows.map(_.getAs[String]("id")).contains(q))
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
    }
  }
}
