package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.index.IndexStore
import graft.serve.Tools
import graft.serve.Tools.Project
import graft.streaming.WatchStream

/** A warm edit cycle, and a search for a new name, compile no
  * generated code. Spark keeps compiled classes in a cache of
  * `spark.sql.codegen.cache.maxEntries` entries (static, default 100,
  * set JVM-wide in build.sbt). One edit cycle,
  * `applyBatch` with the KG then `search_code` and `kg_query` for the
  * fresh name, needs more distinct classes than the default holds, so
  * each operation evicted the next one's code and every cycle
  * recompiled it. The working set printed here (one edit cycle plus
  * one call of every MCP tool, from an empty cache) is what the
  * constant is sized from. A search keeps its per-query values out of
  * the generated code, so a new query compiles nothing either.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Classes Janino compiles while `f` runs. */
  private def compiled(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Empty Spark's compiled-class cache, so the next operations compile
    * their whole working set. The cache is private to `CodeGenerator`;
    * only this measurement needs it.
    */
  private def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    Class.forName("org.sparkproject.guava.cache.Cache")
      .getMethod("invalidateAll").invoke(loading)
  }

  /** One edit cycle: a class named `name` appended to two files, the
    * batch applied with the KG, then both definitions found by
    * `search_code` and the class by `kg_query`.
    */
  private def cycle(p: Project, name: String): Unit = {
    import spark.implicits._
    val edited = Seq("src/parser.py" -> s"\nclass $name:\n    pass\n",
      "src/search.js" -> s"\nclass $name {}\n").map { case (f, c) =>
      (Paths.get(p.root).resolve(f), c)
    }
    edited.foreach { case (f, c) => Files.writeString(f, Files.readString(f) + c) }
    WatchStream.applyBatch(spark, edited.map { case (f, _) =>
        WatchStream.FileEvent(f.toString, "modified", new Timestamp(0L))
      }.toDF(), p.chunksPath, p.vectorsPath, p.kgPath)
    val hits = Tools.dispatch(p, "search_code", Map("query" -> name))
      .fold(e => fail(e), identity)
      .filter(col("name") === name).select("file_path").as[String].collect()
    assert(hits.toSet == edited.map(_._1.toString).toSet, name)
    val related = Tools.dispatch(p, "kg_query", Map("entity_name" -> name))
      .fold(e => fail(e), identity).collect()
    assert(related.nonEmpty, name)
  }

  /** One call of every MCP tool, each with the arguments it requires.
    * The history tools answer with an error here (no git tables), and
    * compile nothing.
    */
  private def everyTool(p: Project): Unit = {
    import spark.implicits._
    val parser = Paths.get(p.root).resolve("src/parser.py").toString
    val entry = IndexStore.read(spark, s"${p.kgPath.get}/vertices")
      .filter(col("name") === "load_config").select("id").as[String].head()
    val chunkId = IndexStore.read(spark, p.chunksPath)
      .filter(col("name") === "parse_file").select("chunk_id").as[String].head()
    val args = Map[String, Any]("query" -> "parse file", "chunk_id" -> chunkId,
      "description" -> "parse a config file", "phrase" -> "file contents",
      "term_a" -> "parse", "term_b" -> "file", "must" -> Seq("parse"),
      "prefix" -> "pa", "file_path" -> parser, "files" -> Seq(parser),
      "entity_name" -> "parse_file", "entry_point" -> entry, "commit" -> "HEAD",
      "path" -> Files.createTempDirectory("codegen-report").resolve("r").toString)
    Tools.specs.foreach(t => Tools.dispatch(p, t.name, args).foreach(_.collect()))
  }

  test("the session sees the configured codegen cache capacity") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a second edit cycle reuses the first one's compiled code") {
    val p = indexedSampleCopy(Files.createTempDirectory("codegen-reuse"))
    clearCodegenCache()
    val edit = compiled(cycle(p, "FreshOne"))
    val tools = compiled(everyTool(p))
    info(s"working set: ${edit + tools} classes ($edit for one edit cycle, " +
      s"$tools more for one call of every tool)")
    val second = compiled(cycle(p, "FreshTwo"))
    info(s"second cycle: $second classes")
    assert(second == 0, s"$second classes compiled")
  }

  test("a warm search_code for a name not searched before compiles nothing") {
    val p = indexedSampleCopy(Files.createTempDirectory("codegen-search"))
    def search(name: String) = Tools.dispatch(p, "search_code", Map("query" -> name))
      .fold(e => fail(e), identity).toJSON.take(100)
    assert(search("load_config").nonEmpty)
    val n = compiled(assert(search("parse_file").nonEmpty))
    assert(n == 0, s"$n classes compiled")
  }
}
