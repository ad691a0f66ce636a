package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.analyze.Analytics
import graft.functions.AsciiText
import graft.graph.Kg
import graft.index.IndexStore
import graft.search.{BooleanQuery, Phrase, SearchEngine}
import graft.text.TextFunctions

/** The reference's serving front door — the 27 MCP tools
  * (`mcp/tool_schemas.py:46-1284`) and the CLI subcommands that shadow
  * them (`cli/main.py:589`) — as ONE typed dispatch table over the
  * Spark data planes this library already implements, plus the five
  * engine-extra search modes (BM25F, phrase, proximity, boolean,
  * autocomplete) exposed with the same validation surface. Each tool is
  * one (param spec, handler) entry of `tools`, and [[specs]], [[spec]]
  * and [[dispatch]] derive from those entries. A param's `kind` is its
  * JSON Schema type (`string`, `integer`, `number`, `array`).
  * `dispatch` validates arguments as the server's CallToolRequest path
  * does (unknown tool / missing required argument → error result,
  * `mcp/server.py:303-380`) and plans the result as a DataFrame; [[run]]
  * adds the caller's action under the same error wrapping. The MCP
  * server, the line shell and chat all call `run`, so a failing call
  * answers the same error in each and ends none of them.
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

  private type Handler = (Project, Map[String, Any]) => Either[String, DataFrame]

  /** One tool: its spec and the handler that plans its result. */
  private final case class Tool(spec: ToolSpec, handle: Handler) {
    def seam: Tool = copy(spec = spec.copy(llmSeam = true))
  }

  private def tool(name: String, description: String, params: Param*)(
      handle: Handler): Tool = Tool(ToolSpec(name, description, params), handle)

  private def required(name: String, kind: String = "string"): Param =
    Param(name, kind, required = true)

  private val limit = Param("limit", "integer")

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

  // ---- the stores and the inputs handlers share ------------------------

  private def engine(p: Project): SearchEngine = new SearchEngine(p.spark)

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

  /** Positional postings (id, term, pos) of the chunks' content: the
    * phrase and proximity input, and (projected) the boolean one.
    */
  private def positional(p: Project): DataFrame =
    Phrase.positionalPostings(chunks(p).select(col("chunk_id"), col("content")),
      "chunk_id", TextFunctions.tokens, "content")

  private def status(p: Project): DataFrame = {
    val stale = graft.streaming.WatchStream
      .staleFileCount(p.spark, p.root, p.chunksPath)
    chunks(p).agg(
      countDistinct(col("file_path")).as("n_files"),
      count(lit(1)).as("n_chunks"),
      countDistinct(col("language")).as("n_languages"))
      .withColumn("n_stale_files", lit(stale))
  }

  private def fileMetrics(p: Project, a: Map[String, Any]): DataFrame =
    chunks(p).filter(col("file_path") === str(a, "file_path").get)
      .select(col("name"), col("chunk_type"), col("complexity"),
        col("cognitive_complexity"), col("nesting_depth"),
        col("token_count"))
      .orderBy(col("name"))

  // LLM seam: the evidence table the model narrates
  private val health: Handler = (p, _) => Right(Analytics.fileHealth(chunks(p)))

  private def kgStats(p: Project): Either[String, DataFrame] =
    kg(p).map { k =>
      val (labels, rels) = Kg.stats(k)
      labels.select(lit("node").as("kind"), col("label").as("name"),
          col("count"))
        .unionByName(rels.select(lit("relationship").as("kind"),
          col("rel_type").as("name"), col("count")))
        .orderBy(col("kind"), col("name"))
    }

  // ---- the registry ----------------------------------------------------

  private val tools: Seq[Tool] = Seq(
    tool("search_code", "hybrid semantic+keyword code search",
      required("query"), limit) { (p, a) =>
      Right(engine(p).hybridSearch(vectors(p), str(a, "query").get,
        int(a, "limit", 10)))
    },
    tool("search_similar", "chunks similar to a given chunk",
      required("chunk_id"), limit) { (p, a) =>
      Right(engine(p).searchSimilar(vectors(p), str(a, "chunk_id").get,
        int(a, "limit", 10)))
    },
    tool("search_context", "search by a task description plus focus areas",
      required("description"), Param("focus_areas", "array"), limit) { (p, a) =>
      Right(engine(p).searchByContext(vectors(p), str(a, "description").get,
        strs(a, "focus_areas"), int(a, "limit", 10)))
    },
    tool("search_hybrid", "hybrid search with explicit alpha",
      required("query"), Param("alpha", "number"), limit) { (p, a) =>
      Right(engine(p).hybridSearch(vectors(p), str(a, "query").get,
        int(a, "limit", 10), a.get("alpha").map(_.toString.toDouble)))
    },
    tool("search_bm25f",
      "field-weighted keyword search (entity names boosted 3x)",
      required("query"), limit) { (p, a) =>
      // name field weighted 3x over content — a deployment persists
      // this index once (Bm25.writeIndexBucketed, the br1 layout);
      // the tool layer derives it inline over the project's chunks
      val terms = graft.search.Tokenizer.tokenize(
        graft.search.QueryProcessor.preprocess(str(a, "query").get))
      if (terms.isEmpty) Left("query has no indexable terms")
      else {
        val fielded = chunks(p).select(col("chunk_id"), col("name"),
          col("content"))
        val idx = graft.search.Bm25.buildIndex(
          graft.search.Bm25F.fieldPostings(fielded, "chunk_id",
            Seq("name" -> 3, "content" -> 1)))
        Right(graft.search.Fusion.ranked(
          graft.search.Bm25.scoreIndexed(p.spark, idx, terms),
          "id", "score", int(a, "limit", 10))
          .withColumnRenamed("id", "chunk_id"))
      }
    },
    tool("search_phrase", "exact adjacent-phrase search",
      required("phrase"), limit) { (p, a) =>
      // the positional postings hold TextFunctions.tokens of the content,
      // so the phrase is split by the same normalizer
      val terms = AsciiText.normalize(UTF8String.fromString(str(a, "phrase").get))
        .toString.split(" ").filter(_.nonEmpty).toSeq
      if (terms.isEmpty) Left("phrase has no indexable terms")
      else Right(Phrase.phraseSearch(positional(p), terms, int(a, "limit", 10)))
    },
    tool("search_proximity",
      "rank chunks by minimum distance between two terms",
      required("term_a"), required("term_b"), limit) { (p, a) =>
      Right(Phrase.proximityPairs(positional(p),
        str(a, "term_a").get.toLowerCase, str(a, "term_b").get.toLowerCase,
        int(a, "limit", 10)))
    },
    tool("search_boolean",
      "set retrieval: all of `must`, any of `should`, none of `must_not`",
      Param("must", "array"), Param("should", "array"),
      Param("must_not", "array")) { (p, a) =>
      val Seq(must, should, not) = Seq("must", "should", "must_not")
        .map(strs(a, _).map(_.toLowerCase))
      if (must.isEmpty && should.isEmpty)
        Left("search_boolean needs at least one `must` or `should` term")
      else Right(BooleanQuery.query(BooleanQuery.fromPositional(positional(p)),
          must, should, not)
        .withColumnRenamed("doc_id", "chunk_id"))
    },
    tool("autocomplete", "top index-vocabulary completions for a prefix",
      required("prefix"), limit) { (p, a) =>
      val prefix = str(a, "prefix").get.toLowerCase
      if (prefix.isEmpty) Left("prefix must be non-empty")
      else Right(BooleanQuery.completions(
          BooleanQuery.fromPositional(positional(p)),
          prefixLen = prefix.length, k = int(a, "limit", 5))
        .filter(col("prefix") === prefix))
    },
    tool("get_project_status", "index freshness and size counters")(
      (p, _) => Right(status(p))),
    tool("index_project", "full chunk+embed index build") { (p, _) =>
      engine(p).indexRepo(p.root, p.chunksPath, p.vectorsPath)
      Right(status(p))
    },
    tool("embed_chunks", "embed indexed chunks' context text", limit) {
      (p, a) =>
        val base = chunks(p).withColumn("ctx",
          graft.embed.HashEmbedder.contextText(col("file_path"),
            col("language"), col("name"), col("content")))
        val lim = int(a, "limit", Int.MaxValue)
        Right(graft.embed.HashEmbedder.embed(
          if (lim == Int.MaxValue) base else base.limit(lim),
          "chunk_id", "ctx"))
    },
    tool("analyze_project", "complexity grade distribution")(
      (p, _) => Right(Analytics.gradeDistribution(chunks(p)))),
    tool("visualize_export",
      "chunk-graph + directory-treemap export (nodes and links)") { (p, _) =>
      // the visualize command's data side (graph_builder.py:334-730):
      // directory/file/chunk nodes + containment/hierarchy links —
      // the JSON/HTML exporters are presentation over these rows
      Right(graft.analyze.Visualize.graphExport(
        chunks(p).select(col("file_path"), col("name"),
          col("chunk_type"), col("start_line"), col("end_line"),
          col("complexity"), size(col("parameters")).as("n_params"),
          col("nesting_depth"), col("parent_name")))
        .orderBy(col("kind"), col("id"), col("source"), col("target")))
    },
    tool("analyze_file", "per-chunk metrics for one file",
      required("file_path"))((p, a) => Right(fileMetrics(p, a))),
    tool("find_smells", "code-smell findings")(
      (p, _) => Right(Analytics.smells(chunks(p)))),
    tool("get_complexity_hotspots", "most complex entities", limit)(
      (p, a) => Right(Analytics.hotspots(chunks(p), int(a, "limit", 10)))),
    tool("check_circular_dependencies", "files on import cycles")(
      (p, _) => Right(Analytics.cyclicFiles(chunks(p)))),
    tool("interpret_analysis", "LLM narration of the analysis tables")(health).seam,
    tool("save_report", "persist the analysis report", required("path")) {
      (p, a) =>
        val out = Analytics.fileHealth(chunks(p))
        out.write.mode("overwrite").json(str(a, "path").get)
        Right(out)
    },
    tool("review_repository", "repository-level review evidence")(health).seam,
    tool("review_pull_request", "review evidence scoped to changed files",
      required("files", "array")) { (p, a) =>
      Right(Analytics.fileHealth(
        chunks(p).filter(col("file_path").isin(strs(a, "files"): _*))))
    }.seam,
    tool("code_review", "single-file review evidence",
      required("file_path"))((p, a) => Right(fileMetrics(p, a))).seam,
    tool("wiki_generate", "directory-level wiki skeleton") {
      (p, _) => Right(Analytics.directoryRollups(chunks(p)))
    }.seam,
    tool("kg_build", "build + persist the knowledge graph") { (p, _) =>
      // counted over the two tables just written, not by deriving the
      // graph from the chunks a second time
      need(p.kgPath, "knowledge graph").flatMap { kp =>
        val built = Kg.fromChunks(chunks(p))
        IndexStore.write(built.vertices, s"$kp/vertices")
        IndexStore.write(built.edges, s"$kp/edges")
        kgStats(p)
      }
    },
    tool("kg_stats", "KG label/relationship counts")((p, _) => kgStats(p)),
    tool("kg_query", "entities related to a named entity",
      required("entity_name"), Param("relationship", "string"), limit) {
      (p, a) =>
        str(a, "relationship") match {
          case Some(r) if !Kg.RelationshipKeywords.contains(r) =>
            Left(s"unknown relationship: $r (expected one of " +
              s"${Kg.RelationshipKeywords.keys.toSeq.sorted.mkString(", ")})")
          case rel =>
            kg(p).map(k => Kg.related(k, str(a, "entity_name").get,
              rel, int(a, "limit", 25)))
        }
    },
    tool("kg_ontology", "node and relationship type inventory")(
      (p, _) => kgStats(p)),
    tool("kg_ia", "doc-section information architecture") { (p, _) =>
      Right(chunks(p).filter(col("chunk_type") === "doc_section")
        .select(col("file_path"), col("hierarchy_path"), col("name"))
        .orderBy(col("file_path"), col("hierarchy_path")))
    },
    tool("trace_execution_flow", "call paths from an entry point",
      required("entry_point"), Param("max_depth", "integer")) { (p, a) =>
      kgTable(p, "edges").map(Kg.bfsPaths(_,
        str(a, "entry_point").get, int(a, "max_depth", 8)))
    },
    tool("kg_history", "commits touching a named entity",
      required("entity_name")) { (p, a) =>
      need(p.entitiesPath, "entity history").map(ep =>
        Kg.entityHistory(IndexStore.read(p.spark, ep),
          str(a, "entity_name").get))
    },
    tool("kg_callers_at_commit", "callers of an entity as of a commit",
      required("entity_name"), required("commit")) { (p, a) =>
      for {
        ep <- need(p.entitiesPath, "entity history")
        pp <- need(p.parentsPath, "commit parents")
        edges <- kgTable(p, "edges")
      } yield Kg.callersAtCommit(edges, IndexStore.read(p.spark, ep),
        str(a, "entity_name").get, IndexStore.read(p.spark, pp),
        str(a, "commit").get)
    },
    tool("story_generate", "repository history phases",
      Param("phases", "integer")) { (p, a) =>
      need(p.commitsPath, "commit log").map(cp =>
        Analytics.storyPhases(IndexStore.read(p.spark, cp),
          int(a, "phases", 5)))
    })

  private val byName: Map[String, Tool] = tools.map(t => t.spec.name -> t).toMap

  val specs: Seq[ToolSpec] = tools.map(_.spec)

  def spec(name: String): Option[ToolSpec] = byName.get(name).map(_.spec)

  private def failed(tool: String, e: Exception): String =
    s"tool $tool failed: ${e.getMessage}"

  /** Validate + plan. Mirrors the server's error surface: unknown tool,
    * missing required arguments and a failure while planning come back
    * as Left, never thrown (`mcp/server.py:303-380` wraps everything
    * into an error CallToolResult). The plan's action has not run; a
    * shell calls [[run]], which runs it under the same wrapping.
    */
  def dispatch(p: Project, tool: String,
      args: Map[String, Any] = Map.empty): Either[String, DataFrame] =
    byName.get(tool).toRight(s"unknown tool: $tool").flatMap { t =>
      val missing = t.spec.params.filter(_.required)
        .map(_.name).filterNot(args.contains)
      if (missing.nonEmpty)
        Left(s"missing required argument(s): ${missing.mkString(", ")}")
      else
        try t.handle(p, args)
        catch { case e: Exception => Left(failed(tool, e)) }
    }

  /** The one call path of every shell: [[dispatch]], then `action` on
    * the planned result. A failure at execution (an unreadable data
    * file, an ANSI cast, a lost executor) becomes `Left("tool <name>
    * failed: …")`, as one at planning does.
    */
  def run[T](p: Project, tool: String, args: Map[String, Any])(
      action: DataFrame => T): Either[String, T] =
    dispatch(p, tool, args).flatMap { df =>
      try Right(action(df))
      catch { case e: Exception => Left(failed(tool, e)) }
    }
}
