package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.serve.Tools
import graft.serve.Tools.Project

/** The MCP front-door dispatch (`mcp/tool_schemas.py` /
  * `mcp/server.py:303-380`): every registered tool routes to a real
  * data plane over an actual indexed repo; validation mirrors the
  * server's error results (unknown tool, missing required argument,
  * unbuilt store).
  */
class ToolsSpec extends SparkSpec {

  private lazy val project: Project = {
    val dir = Files.createTempDirectory("tools").toFile
    val p = Project(spark, sampleRepo,
      chunksPath = new java.io.File(dir, "chunks").getAbsolutePath,
      vectorsPath = new java.io.File(dir, "vectors").getAbsolutePath,
      kgPath = Some(new java.io.File(dir, "kg").getAbsolutePath))
    assert(Tools.dispatch(p, "index_project").isRight)
    assert(Tools.dispatch(p, "kg_build").isRight)
    p
  }

  test("registry covers the reference's tool surface") {
    // the 27-tool MCP surface (tool_schemas.py) — every name present
    val expected = Set(
      "search_code", "search_similar", "search_context", "search_hybrid",
      "get_project_status", "index_project", "embed_chunks",
      "analyze_project", "analyze_file", "find_smells",
      "get_complexity_hotspots", "check_circular_dependencies",
      "interpret_analysis", "save_report", "review_repository",
      "review_pull_request", "code_review", "wiki_generate",
      "kg_build", "kg_stats", "kg_query", "kg_ontology", "kg_ia",
      "trace_execution_flow", "kg_history", "kg_callers_at_commit",
      "story_generate")
    // the five engine-extra search modes ride the same dispatch, plus
    // the visualize command's export surface (cli/commands/visualize/)
    val extras = Set("search_bm25f", "search_phrase", "search_proximity",
      "search_boolean", "autocomplete", "visualize_export")
    assert(Tools.specs.map(_.name).toSet == expected ++ extras)
    assert(Tools.specs.size == 33)
  }

  test("engine-extra search modes dispatch against the indexed repo") {
    // BM25F: "parser" appears in entity NAMES (FileParser, parse_file)
    // — the 3x name weight must surface those chunks first
    val bm = Tools.dispatch(project, "search_bm25f",
      Map("query" -> "parse file", "limit" -> 5)).toOption.get.collect()
    assert(bm.nonEmpty && bm.length <= 5)
    // exact adjacent phrase from a docstring
    val ph = Tools.dispatch(project, "search_phrase",
      Map("phrase" -> "file contents")).toOption.get.collect()
    assert(ph.nonEmpty)
    // an identifier phrase splits as the corpus does: FileParser is one
    // term, parse_file the two adjacent terms `parse file`
    Seq("FileParser" -> "fileparser", "parse_file" -> "parse file").foreach {
      case (ident, words) =>
        def rows(phrase: String) = Tools.dispatch(project, "search_phrase",
          Map("phrase" -> phrase)).toOption.get.collect().toSeq
        assert(rows(ident).nonEmpty && rows(ident) == rows(words), ident)
    }
    // proximity: both terms common in parser.py
    val px = Tools.dispatch(project, "search_proximity",
      Map("term_a" -> "parse", "term_b" -> "file")).toOption.get.collect()
    assert(px.nonEmpty)
    assert(px.map(_.getAs[Int]("min_dist")).forall(_ >= 1))
    // boolean: parse AND NOT configuration
    val bq = Tools.dispatch(project, "search_boolean",
      Map("must" -> Seq("parse"), "must_not" -> Seq("configuration")))
      .toOption.get.collect()
    assert(bq.nonEmpty)
    // autocomplete on a live prefix
    val ac = Tools.dispatch(project, "autocomplete",
      Map("prefix" -> "pa", "limit" -> 3)).toOption.get.collect()
    assert(ac.nonEmpty && ac.length <= 3)
    assert(ac.forall(_.getAs[String]("term").startsWith("pa")))
    // validation: empty boolean query and missing args still error
    assert(Tools.dispatch(project, "search_boolean", Map.empty).isLeft)
    assert(Tools.dispatch(project, "search_phrase", Map.empty).isLeft)
    assert(Tools.dispatch(project, "search_proximity",
      Map("term_a" -> "parse")).isLeft)
  }

  test("validation mirrors the server's error results") {
    assert(Tools.dispatch(project, "no_such_tool") ==
      Left("unknown tool: no_such_tool"))
    assert(Tools.dispatch(project, "search_code", Map.empty) ==
      Left("missing required argument(s): query"))
    val noKg = project.copy(kgPath = None)
    assert(Tools.dispatch(noKg, "kg_stats").isLeft)
    assert(Tools.dispatch(noKg, "trace_execution_flow",
      Map("entry_point" -> "x")) ==
      Left("knowledge graph not built: run kg_build first"))
    assert(Tools.dispatch(project, "kg_query",
      Map("entity_name" -> "x", "relationship" -> "nonsense")).isLeft)
    assert(Tools.dispatch(project, "kg_history",
      Map("entity_name" -> "x")).isLeft, "entities store not configured")
  }

  test("search tools return ranked results from the index") {
    val hits = Tools.dispatch(project, "search_code",
      Map("query" -> "greet user", "limit" -> 5)).toOption.get.collect()
    assert(hits.nonEmpty && hits.length <= 5)
    val hybrid = Tools.dispatch(project, "search_hybrid",
      Map("query" -> "greet user", "alpha" -> 0.3, "limit" -> 3))
      .toOption.get.collect()
    assert(hybrid.nonEmpty && hybrid.length <= 3)
    val someChunk = Tools.dispatch(project, "get_project_status", Map.empty)
      .toOption.get // status works
    assert(someChunk.collect().head.getAs[Long]("n_chunks") > 0)
    val ctx = Tools.dispatch(project, "search_context",
      Map("description" -> "greeting logic",
        "focus_areas" -> Seq("user", "name"))).toOption.get
    assert(ctx.collect().nonEmpty)
  }

  test("analysis tools route to the analytics planes") {
    assert(Tools.dispatch(project, "analyze_project")
      .toOption.get.columns.contains("grade"))
    val smells = Tools.dispatch(project, "find_smells").toOption.get
    assert(smells.columns.contains("smell"))
    val hot = Tools.dispatch(project, "get_complexity_hotspots",
      Map("limit" -> 3)).toOption.get.collect()
    assert(hot.length <= 3)
    assert(Tools.dispatch(project, "check_circular_dependencies")
      .isRight)
    val anyFile = graft.index.IndexStore.read(spark, project.chunksPath)
      .select("file_path").head().getString(0)
    val perFile = Tools.dispatch(project, "analyze_file",
      Map("file_path" -> anyFile)).toOption.get.collect()
    assert(perFile.nonEmpty)
    // visualize_export: one frame of nodes + links over the real index
    val viz = Tools.dispatch(project, "visualize_export").toOption.get
    val kinds = viz.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.getOrElse("N", 0L) > 0 && kinds.getOrElse("L", 0L) > 0)
    val types = viz.filter(col("kind") === "N")
      .select("node_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.contains("directory") && types.contains("file"))
    // every link endpoint resolves to a node id (referential integrity)
    val ids = viz.filter(col("kind") === "N").select(col("id"))
    val dangling = viz.filter(col("kind") === "L")
      .select(col("source").as("id")).union(
        viz.filter(col("kind") === "L").select(col("target").as("id")))
      .distinct().join(ids, Seq("id"), "left_anti").count()
    assert(dangling == 0L)
  }

  test("llm-seam tools return their evidence data plane") {
    val ev = Tools.dispatch(project, "review_repository").toOption.get
    assert(ev.columns.contains("health_score"))
    assert(Tools.spec("review_repository").get.llmSeam)
    assert(!Tools.spec("search_code").get.llmSeam)
    val anyFile = graft.index.IndexStore.read(spark, project.chunksPath)
      .select("file_path").head().getString(0)
    val pr = Tools.dispatch(project, "review_pull_request",
      Map("files" -> Seq(anyFile))).toOption.get.collect()
    assert(pr.length == 1, "PR review evidence scoped to the given file")
  }

  test("kg tools query the persisted graph") {
    val onto = Tools.dispatch(project, "kg_ontology").toOption.get.collect()
    assert(onto.nonEmpty)
    assert(onto.map(_.getString(0)).toSet.subsetOf(
      Set("node", "relationship")))
    val anyEntity = graft.index.IndexStore
      .read(spark, s"${project.kgPath.get}/vertices")
      .filter(col("label") === "function")
      .select("name").head().getString(0)
    val related = Tools.dispatch(project, "kg_query",
      Map("entity_name" -> anyEntity)).toOption.get
    assert(related.columns.toSeq == Seq("id", "name", "label"))
  }

  test("save_report persists and story/history demand their stores") {
    val out = Files.createTempDirectory("report").toFile
    val path = new java.io.File(out, "report").getAbsolutePath
    assert(Tools.dispatch(project, "save_report",
      Map("path" -> path)).isRight)
    assert(spark.read.json(path).count() > 0)
    assert(Tools.dispatch(project, "story_generate").isLeft)
    // with a commits table configured, story phases materialize
    import spark.implicits._
    val commitsPath = new java.io.File(out, "commits").getAbsolutePath
    (1 to 20).map(i => (s"c$i", s"dev${i % 3}",
        new java.sql.Timestamp(i * 86400000L), s"msg $i", i % 4 + 1))
      .toDF("commit_hash", "author", "ts", "subject", "files_changed")
      .write.parquet(commitsPath)
    val withCommits = project.copy(commitsPath = Some(commitsPath))
    assert(Tools.dispatch(withCommits, "story_generate",
      Map("phases" -> 4)).isRight)
  }

  test("serve shell: list, dispatch, arg parsing, bounded output") {
    import graft.serve.ServeMain
    assert(ServeMain.parseArgs(Seq("query=fast scan".split(" ").head,
      "limit=3", "focus_areas=a,b")) ==
      Map("query" -> "fast", "limit" -> "3",
        "focus_areas" -> Seq("a", "b")))
    val listing = ServeMain.handle(project, "list")
    assert(listing.size == 33)
    assert(listing.exists(_.startsWith("search_code(query*, limit)")))
    assert(listing.exists(l => l.startsWith("review_repository") &&
      l.contains("[llm-seam]")))
    val resp = ServeMain.handle(project, "get_project_status")
    assert(resp.last.startsWith("ok 1"))
    assert(resp.head.contains("n_chunks"))
    assert(ServeMain.handle(project, "nope") == Seq("err unknown tool: nope"))
    val bounded = ServeMain.handle(project,
      "search_code query=greet limit=9", maxRows = 2)
    assert(bounded.last.startsWith("ok "))
    assert(bounded.size <= 3)
  }
}
