package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Analytics
import graft.graph.Kg
import graft.index.IndexStore
import graft.search.SearchEngine

/** The reference's serving front door — the 27 MCP tools
  * (`mcp/tool_schemas.py:46-1284`) and the CLI subcommands that shadow
  * them (`cli/main.py:589`) — as ONE typed dispatch table over the
  * Spark data planes this library already implements, plus the five
  * engine-extra search modes (BM25F, phrase, proximity, boolean,
  * autocomplete) exposed with the same validation surface. Each tool is a
  * (param spec, handler) pair; `dispatch` validates arguments exactly
  * as the server's CallToolRequest path does (unknown tool / missing
  * required argument → error result, `mcp/server.py:303-380`) and
  * returns the tool's result as a DataFrame — the transport shell
  * (stdio JSON-RPC / CLI printing) stays out of the engine, as a Spark
  * library should; any host can wrap `dispatch` in a loop.
  *
  * LLM-backed tools (interpret_analysis, review_*, code_review,
  * wiki_generate) are marked `llmSeam = true`: dispatch returns their
  * DATA PLANE — the evidence tables the reference feeds its model —
  * and the model call itself stays behind the declared seam (same
  * class as Q10/PairScorer).
  */
object Tools {

  final case class Param(name: String, kind: String,
      required: Boolean = false)

  final case class ToolSpec(name: String, description: String,
      params: Seq[Param], llmSeam: Boolean = false)

  /** Everything a tool may need; optional stores stay None until built. */
  final case class Project(
      spark: SparkSession,
      root: String,
      chunksPath: String,
      vectorsPath: String,
      kgPath: Option[String] = None,
      entitiesPath: Option[String] = None,
      parentsPath: Option[String] = None,
      commitsPath: Option[String] = None)

  // ---- argument access -------------------------------------------------

  private def str(a: Map[String, Any], k: String): Option[String] =
    a.get(k).map(_.toString)

  private def int(a: Map[String, Any], k: String, d: Int): Int =
    a.get(k).map(_.toString.toDouble.toInt).getOrElse(d)

  private def strs(a: Map[String, Any], k: String): Seq[String] =
    a.get(k) match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(one) => Seq(one.toString)
      case None => Nil
    }

  private def chunks(p: Project): DataFrame =
    IndexStore.read(p.spark, p.chunksPath)

  private def vectors(p: Project): DataFrame =
    IndexStore.read(p.spark, p.vectorsPath)

  /** One table of the built KG, read with its footer schema (no job). */
  private def kgTable(p: Project, name: String): Either[String, DataFrame] =
    p.kgPath.map(kp => IndexStore.read(p.spark, s"$kp/$name"))
      .toRight("knowledge graph not built: run kg_build first")

  private def kg(p: Project): Either[String, Kg.KgTables] =
    for (v <- kgTable(p, "vertices"); e <- kgTable(p, "edges"))
      yield Kg.KgTables(v, e)

  private def need(p: Option[String],
      what: String): Either[String, String] =
    p.toRight(s"$what table not configured for this project")

  // ---- the registry ----------------------------------------------------

  val specs: Seq[ToolSpec] = Seq(
    ToolSpec("search_code", "hybrid semantic+keyword code search",
      Seq(Param("query", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("search_similar", "chunks similar to a given chunk",
      Seq(Param("chunk_id", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("search_context",
      "search by a task description plus focus areas",
      Seq(Param("description", "string", required = true),
        Param("focus_areas", "array"), Param("limit", "int"))),
    ToolSpec("search_hybrid", "hybrid search with explicit alpha",
      Seq(Param("query", "string", required = true),
        Param("alpha", "double"), Param("limit", "int"))),
    ToolSpec("search_bm25f",
      "field-weighted keyword search (entity names boosted 3x)",
      Seq(Param("query", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("search_phrase", "exact adjacent-phrase search",
      Seq(Param("phrase", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("search_proximity",
      "rank chunks by minimum distance between two terms",
      Seq(Param("term_a", "string", required = true),
        Param("term_b", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("search_boolean",
      "set retrieval: all of `must`, any of `should`, none of `must_not`",
      Seq(Param("must", "array"), Param("should", "array"),
        Param("must_not", "array"))),
    ToolSpec("autocomplete",
      "top index-vocabulary completions for a prefix",
      Seq(Param("prefix", "string", required = true),
        Param("limit", "int"))),
    ToolSpec("get_project_status", "index freshness and size counters",
      Nil),
    ToolSpec("index_project", "full chunk+embed index build", Nil),
    ToolSpec("embed_chunks", "embed indexed chunks' context text",
      Seq(Param("limit", "int"))),
    ToolSpec("analyze_project", "complexity grade distribution", Nil),
    ToolSpec("visualize_export",
      "chunk-graph + directory-treemap export (nodes and links)", Nil),
    ToolSpec("analyze_file", "per-chunk metrics for one file",
      Seq(Param("file_path", "string", required = true))),
    ToolSpec("find_smells", "code-smell findings", Nil),
    ToolSpec("get_complexity_hotspots", "most complex entities",
      Seq(Param("limit", "int"))),
    ToolSpec("check_circular_dependencies",
      "files on import cycles", Nil),
    ToolSpec("interpret_analysis",
      "LLM narration of the analysis tables", Nil, llmSeam = true),
    ToolSpec("save_report", "persist the analysis report",
      Seq(Param("path", "string", required = true))),
    ToolSpec("review_repository", "repository-level review evidence",
      Nil, llmSeam = true),
    ToolSpec("review_pull_request",
      "review evidence scoped to changed files",
      Seq(Param("files", "array", required = true)), llmSeam = true),
    ToolSpec("code_review", "single-file review evidence",
      Seq(Param("file_path", "string", required = true)),
      llmSeam = true),
    ToolSpec("wiki_generate", "directory-level wiki skeleton",
      Nil, llmSeam = true),
    ToolSpec("kg_build", "build + persist the knowledge graph", Nil),
    ToolSpec("kg_stats", "KG label/relationship counts", Nil),
    ToolSpec("kg_query", "entities related to a named entity",
      Seq(Param("entity_name", "string", required = true),
        Param("relationship", "string"), Param("limit", "int"))),
    ToolSpec("kg_ontology", "node and relationship type inventory",
      Nil),
    ToolSpec("kg_ia", "doc-section information architecture", Nil),
    ToolSpec("trace_execution_flow", "call paths from an entry point",
      Seq(Param("entry_point", "string", required = true),
        Param("max_depth", "int"))),
    ToolSpec("kg_history", "commits touching a named entity",
      Seq(Param("entity_name", "string", required = true))),
    ToolSpec("kg_callers_at_commit",
      "callers of an entity as of a commit",
      Seq(Param("entity_name", "string", required = true),
        Param("commit", "string", required = true))),
    ToolSpec("story_generate", "repository history phases",
      Seq(Param("phases", "int"))))

  def spec(name: String): Option[ToolSpec] = specs.find(_.name == name)

  /** Validate + route. Mirrors the server's error surface: unknown tool
    * and missing required arguments come back as Left, never thrown
    * (`mcp/server.py:303-380` wraps everything into an error
    * CallToolResult).
    */
  def dispatch(p: Project, tool: String,
      args: Map[String, Any] = Map.empty): Either[String, DataFrame] = {
    spec(tool) match {
      case None => Left(s"unknown tool: $tool")
      case Some(ts) =>
        val missing = ts.params.filter(_.required)
          .map(_.name).filterNot(args.contains)
        if (missing.nonEmpty)
          Left(s"missing required argument(s): ${missing.mkString(", ")}")
        else
          try route(p, tool, args)
          catch { case e: Exception => Left(s"tool $tool failed: ${e.getMessage}") }
    }
  }

  private def route(p: Project, tool: String,
      args: Map[String, Any]): Either[String, DataFrame] = {
    val s = p.spark
    lazy val engine = new SearchEngine(s)
    tool match {
      case "search_code" =>
        Right(engine.hybridSearch(vectors(p),
          str(args, "query").get, int(args, "limit", 10)))
      case "search_similar" =>
        Right(engine.searchSimilar(vectors(p),
          str(args, "chunk_id").get, int(args, "limit", 10)))
      case "search_context" =>
        Right(engine.searchByContext(vectors(p),
          str(args, "description").get, strs(args, "focus_areas"),
          int(args, "limit", 10)))
      case "search_hybrid" =>
        Right(engine.hybridSearch(vectors(p),
          str(args, "query").get, int(args, "limit", 10),
          args.get("alpha").map(_.toString.toDouble)))
      case "search_bm25f" =>
        // name field weighted 3x over content — a deployment persists
        // this index once (Bm25.writeIndexBucketed, the br1 layout);
        // the tool layer derives it inline over the project's chunks
        val terms = graft.search.Tokenizer.tokenize(
          graft.search.QueryProcessor.preprocess(str(args, "query").get))
        if (terms.isEmpty) Left("query has no indexable terms")
        else {
          val fielded = chunks(p).select(col("chunk_id"), col("name"),
            col("content"))
          val idx = graft.search.Bm25.buildIndex(
            graft.search.Bm25F.fieldPostings(fielded, "chunk_id",
              Seq("name" -> 3, "content" -> 1)))
          Right(graft.search.Fusion.ranked(
            graft.search.Bm25.scoreIndexed(s, idx, terms),
            "id", "score", int(args, "limit", 10))
            .withColumnRenamed("id", "chunk_id"))
        }
      case "search_phrase" =>
        val terms = graft.search.Tokenizer.tokenize(str(args, "phrase").get)
        if (terms.isEmpty) Left("phrase has no indexable terms")
        else Right(graft.search.Phrase.phraseSearch(
          graft.search.Phrase.positionalPostings(
            chunks(p).select(col("chunk_id"), col("content")),
            "chunk_id", graft.text.TextFunctions.tokens, "content"),
          terms, int(args, "limit", 10)))
      case "search_proximity" =>
        val (a, b) = (str(args, "term_a").get.toLowerCase,
          str(args, "term_b").get.toLowerCase)
        Right(graft.search.Phrase.proximityPairs(
          graft.search.Phrase.positionalPostings(
            chunks(p).select(col("chunk_id"), col("content")),
            "chunk_id", graft.text.TextFunctions.tokens, "content"),
          a, b, int(args, "limit", 10)))
      case "search_boolean" =>
        val (must, should, not) = (strs(args, "must"),
          strs(args, "should"), strs(args, "must_not"))
        if (must.isEmpty && should.isEmpty)
          Left("search_boolean needs at least one `must` or `should` term")
        else Right(graft.search.BooleanQuery.query(
          graft.search.BooleanQuery.postings(chunks(p), "chunk_id",
            "content"),
          must.map(_.toLowerCase), should.map(_.toLowerCase),
          not.map(_.toLowerCase))
          .withColumnRenamed("doc_id", "chunk_id"))
      case "autocomplete" =>
        val prefix = str(args, "prefix").get.toLowerCase
        if (prefix.isEmpty) Left("prefix must be non-empty")
        else Right(graft.search.BooleanQuery.completions(
            graft.search.BooleanQuery.postings(chunks(p), "chunk_id",
              "content"),
            prefixLen = prefix.length, k = int(args, "limit", 5))
          .filter(col("prefix") === prefix))
      case "get_project_status" =>
        val ch = chunks(p)
        val stale = graft.streaming.WatchStream
          .staleFileCount(s, p.root, p.chunksPath)
        Right(ch.agg(
          countDistinct(col("file_path")).as("n_files"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("language")).as("n_languages"))
          .withColumn("n_stale_files", lit(stale)))
      case "index_project" =>
        engine.indexRepo(p.root, p.chunksPath, p.vectorsPath)
        route(p, "get_project_status", Map.empty)
      case "embed_chunks" =>
        val base = chunks(p).withColumn("ctx",
          graft.embed.HashEmbedder.contextText(col("file_path"),
            col("language"), col("name"), col("content")))
        val lim = int(args, "limit", Int.MaxValue)
        Right(graft.embed.HashEmbedder.embed(
          if (lim == Int.MaxValue) base else base.limit(lim),
          "chunk_id", "ctx"))
      case "analyze_project" =>
        Right(Analytics.gradeDistribution(chunks(p)))
      case "visualize_export" =>
        // the visualize command's data side (graph_builder.py:334-730):
        // directory/file/chunk nodes + containment/hierarchy links —
        // the JSON/HTML exporters are presentation over these rows
        Right(graft.analyze.Visualize.graphExport(
          chunks(p).select(col("file_path"), col("name"),
            col("chunk_type"), col("start_line"), col("end_line"),
            col("complexity"), size(col("parameters")).as("n_params"),
            col("nesting_depth"), col("parent_name")))
          .orderBy(col("kind"), col("id"), col("source"), col("target")))
      case "analyze_file" =>
        Right(chunks(p)
          .filter(col("file_path") === str(args, "file_path").get)
          .select(col("name"), col("chunk_type"), col("complexity"),
            col("cognitive_complexity"), col("nesting_depth"),
            col("token_count"))
          .orderBy(col("name")))
      case "find_smells" =>
        Right(Analytics.smells(chunks(p)))
      case "get_complexity_hotspots" =>
        Right(Analytics.hotspots(chunks(p), int(args, "limit", 10)))
      case "check_circular_dependencies" =>
        Right(Analytics.cyclicFiles(chunks(p)))
      case "interpret_analysis" | "review_repository" =>
        // LLM seam: the evidence table the model narrates
        Right(Analytics.fileHealth(chunks(p)))
      case "review_pull_request" =>
        val files = strs(args, "files")
        Right(Analytics.fileHealth(
          chunks(p).filter(col("file_path").isin(files: _*))))
      case "code_review" =>
        route(p, "analyze_file", args)
      case "save_report" =>
        val out = Analytics.fileHealth(chunks(p))
        out.write.mode("overwrite").json(str(args, "path").get)
        Right(out)
      case "wiki_generate" =>
        Right(Analytics.directoryRollups(chunks(p)))
      case "kg_build" =>
        // counted over the two tables just written, not by deriving the
        // graph from the chunks a second time
        need(p.kgPath, "knowledge graph").flatMap { kp =>
          val built = Kg.fromChunks(chunks(p))
          IndexStore.write(built.vertices, s"$kp/vertices")
          IndexStore.write(built.edges, s"$kp/edges")
          route(p, "kg_stats", Map.empty)
        }
      case "kg_stats" | "kg_ontology" =>
        kg(p).map { k =>
          val (labels, rels) = Kg.stats(k)
          ontology(labels, rels)
        }
      case "kg_query" =>
        val rel = str(args, "relationship")
        rel match {
          case Some(r) if !Kg.RelationshipKeywords.contains(r) =>
            Left(s"unknown relationship: $r (expected one of " +
              s"${Kg.RelationshipKeywords.keys.toSeq.sorted.mkString(", ")})")
          case _ =>
            kg(p).map(k => Kg.related(k, str(args, "entity_name").get,
              rel, int(args, "limit", 25)))
        }
      case "kg_ia" =>
        Right(chunks(p).filter(col("chunk_type") === "doc_section")
          .select(col("file_path"), col("hierarchy_path"), col("name"))
          .orderBy(col("file_path"), col("hierarchy_path")))
      case "trace_execution_flow" =>
        kgTable(p, "edges").map(Kg.bfsPaths(_,
          str(args, "entry_point").get, int(args, "max_depth", 8)))
      case "kg_history" =>
        need(p.entitiesPath, "entity history").map(ep =>
          Kg.entityHistory(IndexStore.read(s, ep),
            str(args, "entity_name").get))
      case "kg_callers_at_commit" =>
        for {
          ep <- need(p.entitiesPath, "entity history")
          pp <- need(p.parentsPath, "commit parents")
          edges <- kgTable(p, "edges")
        } yield Kg.callersAtCommit(edges, IndexStore.read(s, ep),
          str(args, "entity_name").get, IndexStore.read(s, pp),
          str(args, "commit").get)
      case "story_generate" =>
        need(p.commitsPath, "commit log").map(cp =>
          Analytics.storyPhases(IndexStore.read(s, cp),
            int(args, "phases", 5)))
      case other => Left(s"unknown tool: $other")
    }
  }

  private def ontology(labels: DataFrame, rels: DataFrame): DataFrame =
    labels.select(lit("node").as("kind"), col("label").as("name"),
        col("count"))
      .unionByName(rels.select(lit("relationship").as("kind"),
        col("rel_type").as("name"), col("count")))
      .orderBy(col("kind"), col("name"))
}
