package graft.graph

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Knowledge graph as vertex/edge DataFrames (SURVEY §2.1 S9, §2.3 J7-J9,
  * §2.4 A17) — the reference's KuzuDB property graph
  * (`core/knowledge_graph.py:327-888`) re-expressed relationally:
  * vertices(id, label, name, file_path) + edges(src, dst, rel_type,
  * weight). Traversals walk a frontier hop by hop, one pass over the
  * edge table per hop; the frontier (capped, as the reference caps at
  * depth 8 / max_nodes) is the only state.
  *
  * Lineage control: the distributed walks localCheckpoint the frontier
  * when they loop more than a few hops (SURVEY §7 hard part (c));
  * `bfsPaths` holds its capped frontier on the driver.
  */
object Kg {

  final case class KgTables(vertices: DataFrame, edges: DataFrame)

  /** A vertex row of the code graph. */
  final case class Vertex(id: String, label: String, name: String,
      file_path: String, parent_name: String)

  /** An edge key; every code-graph edge has weight 1.0. */
  final case class Edge(src: String, dst: String, rel_type: String)

  /** A CALLS or INHERITS edge from `src` to every entity named
    * `target_name`, once names are resolved.
    */
  final case class NameRef(src: String, target_name: String, rel_type: String)

  /** What one chunk contributes to the code graph. */
  final case class ChunkKg(vertices: Seq[Vertex], edges: Seq[Edge],
      refs: Seq[NameRef])

  /** The chunk types that become entity vertices. */
  private val EntityLabels: Seq[String] = Seq("function", "class", "method")

  private val FileName = Pattern.compile("([^/]+)$")
  private val TagList = Pattern.compile("(?m)^tags:\\s*\\[([^\\]]*)\\]")
  private val Comma = UTF8String.fromString(",")

  /** `regexp_extract(s, p, 1)`: null for null, "" without a match. */
  private def extract(p: Pattern, s: String): String =
    if (s == null) null
    else {
      val m = p.matcher(s)
      if (m.find()) Option(m.group(1)).getOrElse("") else ""
    }

  /** `concat(file, "::", path)`: null if either is null. */
  private def qualified(file: String, path: String): String =
    if (file == null || path == null) null else s"$file::$path"

  /** The code-graph rules for one chunk (`core/kg_builder.py:949-1236`,
    * frontmatter tags `kg_builder.py:2609-2640`), in the semantics of
    * the Spark expressions they replace: `regexp_extract` gives "" on no
    * match, `split` keeps trailing empty strings, `trim` strips ASCII
    * spaces only, `explode` drops a null array but keeps null elements,
    * `concat` with a null is null, and a null `parent_name` yields no
    * CONTAINS edge.
    *
    * Vertices: an entity (function/class/method chunks, id
    * `file::hierarchy_path`), the chunk's file, one module per import
    * and one tag per frontmatter tag. Edges: file or class -CONTAINS->
    * entity, file -IMPORTS-> module, file -HAS_TAG-> tag. The entity's
    * calls (and a class's bases) are name references that
    * [[fromChunks]] and [[differentialUpdate]] resolve against the
    * entity names they know; a reference that cannot resolve (no
    * source id, no target) is left out. `content` is read only for a
    * `<frontmatter>` chunk.
    */
  def chunkKg(filePath: String, chunkType: String, name: String,
      hierarchyPath: String, parentName: String, calls: Seq[String],
      imports: Seq[String], inheritsFrom: Seq[String],
      content: String): ChunkKg = {
    def all(xs: Seq[String]) = Option(xs).getOrElse(Nil)
    val entity = EntityLabels.contains(chunkType)
    val id = qualified(filePath, hierarchyPath)
    val modules = all(imports)
    val tags =
      if (name != "<frontmatter>" || content == null) Nil
      else UTF8String.fromString(extract(TagList, content)).split(Comma, -1)
        .toSeq.map(_.trim.toString).filter(_.nonEmpty)
    val contains =
      if (!entity || parentName == null) Nil
      else if (parentName.isEmpty) Seq(Edge(filePath, id, "CONTAINS"))
      else Seq(Edge(qualified(filePath, parentName), id, "CONTAINS"))
    def refs(targets: Seq[String], rel: String) =
      if (id == null) Nil
      else targets.filter(_ != null).map(NameRef(id, _, rel))
    ChunkKg(
      (if (entity) Seq(Vertex(id, chunkType, name, filePath, parentName)) else Nil) ++
        (Vertex(filePath, "file", extract(FileName, filePath), filePath, "") +:
          modules.map(m => Vertex(m, "module", m, "", ""))) ++
        tags.map(t => Vertex(t, "tag", t, "", "")),
      contains ++ modules.map(Edge(filePath, _, "IMPORTS")) ++
        tags.map(Edge(filePath, _, "HAS_TAG")),
      if (!entity) Nil
      else refs(all(calls), "CALLS") ++
        (if (chunkType == "class") refs(all(inheritsFrom), "INHERITS") else Nil))
  }

  /** The chunk columns [[chunkKg]] reads, in its parameter order;
    * content only for a `<frontmatter>` chunk.
    */
  private val kgFields: Seq[Column] = Seq(col("file_path"), col("chunk_type"),
    col("name"), col("hierarchy_path"), col("parent_name"), col("calls"),
    col("imports"), col("inherits_from"),
    when(col("name") === "<frontmatter>", col("content")).as("content"))

  // nondeterministic only so that Catalyst calls it once per row: it
  // would otherwise copy the call into the non-empty filter it infers
  // for each explode of its fields (measured: three calls per branch)
  private val chunkKgUdf = udf(chunkKg _).asNondeterministic()
    .withName("graft_kg_chunk")

  /** Build entity/file/module/tag vertices + CONTAINS/CALLS/IMPORTS/
    * INHERITS/HAS_TAG edges from a chunks table: [[chunkKg]] per chunk
    * as one UDF, then its name references resolved through a global
    * entity-name map (the reference's prescan, `kg_builder.py:1237-1268`)
    * with self-references dropped, and one dedup per output table:
    * repeated files, modules, imports, tags and resolved names collapse
    * there.
    */
  def fromChunks(chunks: DataFrame): KgTables = {
    val parts = chunks.select(chunkKgUdf(kgFields: _*).as("kg"))
    def rows(field: String) =
      parts.select(explode(col(s"kg.$field")).as("r")).select("r.*")
    val vertices = rows("vertices")
    val byName = vertices.filter(col("label").isin(EntityLabels: _*))
      .select(col("name").as("target_name"), col("id").as("dst"))
    val resolved = rows("refs").join(byName, Seq("target_name"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("rel_type"))
    KgTables(vertices.dropDuplicates("id"),
      rows("edges").unionByName(resolved)
        .withColumn("weight", lit(1.0))
        .dropDuplicates("src", "dst", "rel_type"))
  }

  /** Differential (incremental) KG rebuild (issue #108 /
    * `test_differential_kg.py`): delete the vertices and edges of
    * changed and deleted files, rebuild only the re-chunked files'
    * subgraph, resolving its names against the surviving entities of
    * those names, and merge.
    *
    * The delta is derived on the driver: one collect of the change's
    * rows (the change is change-sized; no job when `rechunked` is a
    * local relation, as [[graft.index.IndexStore.applyChanges]] passes
    * it) runs the same [[chunkKg]] rules as [[fromChunks]], and one
    * scan of the stored vertices returns the
    * ids of the touched files' vertices and the stored entities whose
    * names the change references. Each result table is its stored rows,
    * filtered by a literal key set, unioned with a local relation: no
    * job until it is read, and neither reads the other table's path, so
    * a caller may overwrite one table before writing the other.
    *
    * Precondition: the stored vertex ids and (src, dst, rel_type) edge
    * keys are unique, as [[fromChunks]] and this function write them.
    *
    * Reference-faithful drift: edges FROM unchanged files INTO entities
    * that first appear in this delta are not created (the reference's
    * differential path re-processes only changed files); a periodic full
    * `fromChunks` rebuild reconciles, exactly as the reference's full
    * rebuild does.
    *
    * @param rechunked chunk rows for changed and new files only
    * @param deleted   file paths that disappeared
    */
  def differentialUpdate(kg: KgTables, rechunked: DataFrame,
      deleted: Seq[String]): KgTables = {
    val spark = rechunked.sparkSession
    import spark.implicits._
    val change = rechunked.select(kgFields: _*).as[(String, String, String,
      String, String, Seq[String], Seq[String], Seq[String], String)].collect().toSeq
    val parts = change.map((chunkKg _).tupled)
    val files = (change.map(_._1) ++ deleted).filter(f => f != null && f.nonEmpty)
      .distinct
    val names = parts.flatMap(_.refs.map(_.target_name)).distinct
    val stored = kg.vertices
      .filter(col("file_path").isin(files: _*) ||
        (col("label").isin(EntityLabels: _*) && col("name").isin(names: _*)))
      .select("id", "name", "file_path").as[(String, String, String)].collect()
    val touched = files.toSet
    // as `IN` matches it: a null id is never removed
    val removed = stored.collect { case (id, _, f) if touched(f) && id != null => id }
      .toSet
    val survivors = stored.toSeq.filter { case (id, _, f) => !touched(f) && !removed(id) }
    val byName = (parts.flatMap(_.vertices).filter(v => EntityLabels.contains(v.label))
      .map(v => v.name -> v.id) ++ survivors.map { case (id, n, _) => n -> id })
      .groupMap(_._1)(_._2)
    val resolved = parts.flatMap(_.refs).flatMap(r =>
      byName.getOrElse(r.target_name, Nil).filter(d => d != null && d != r.src)
        .map(Edge(r.src, _, r.rel_type)))
    val vertices = parts.flatMap(_.vertices).distinctBy(_.id)
    val edges = (parts.flatMap(_.edges) ++ resolved).distinct
    // an edge key matches as `<=>` does: a struct comparison takes two
    // null fields as equal; only edges from a delta source are compared
    val edgeKey = array_contains(typedLit(edges.map(e => (e.src, e.dst, e.rel_type))),
      struct(col("src").as("_1"), col("dst").as("_2"), col("rel_type").as("_3")))
    KgTables(
      kg.vertices.filter(!in(col("id"), removed.toSeq ++ vertices.map(_.id)))
        .unionByName(vertices.toDF()),
      kg.edges.filter(!in(col("src"), removed.toSeq) && !in(col("dst"), removed.toSeq) &&
          !(in(col("src"), edges.map(_.src)) && edgeKey))
        .unionByName(edges.toDF().withColumn("weight", lit(1.0))))
  }

  /** `c <=> x` for some x in `xs`, as a literal set: no job. */
  private def in(c: Column, xs: Seq[String]): Column = {
    val set = coalesce(c.isin(xs.filter(_ != null).distinct: _*), lit(false))
    if (xs.contains(null)) set || c.isNull else set
  }

  /** Multi-tag AND filter (`knowledge_graph.py:3104-3124`): nodes that
    * carry EVERY tag in `tags` via HAS_TAG edges.
    */
  def tagFilterAnd(edges: DataFrame, tags: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    edges
      .filter(c("rel_type") === "HAS_TAG" && c("dst").isin(tags: _*))
      .groupBy(c("src").as("id"))
      .agg(countDistinct(c("dst")).as("n_tags"))
      .filter(c("n_tags") === tags.distinct.length)
      .select("id")
  }

  /** 1-hop neighbors, undirected (J7 — Cypher UNION of both directions). */
  def oneHop(edges: DataFrame, seedIds: DataFrame): DataFrame = {
    val s = seedIds.select(col("id"))
    val out = edges.join(s, edges("src") === s("id")).select(edges("dst").as("id"))
    val in = edges.join(s, edges("dst") === s("id")).select(edges("src").as("id"))
    out.unionByName(in).distinct()
  }

  /** Min-distance reachability up to maxHops following edges dst→src
    * (reverse) or src→dst. Output: (id, dist). (J8 semantics: DISTINCT
    * frontier per hop, hop cap.)
    */
  def minDist(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      reverse: Boolean = false): DataFrame = {
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    // Deep walks pay per-hop job overhead, so: materialize the static
    // edge relation once (every hop joins it; unmaterialized it would be
    // re-derived per hop), eagerly checkpoint every frontier (plan
    // truncation — persist() instead was measured to send Catalyst into
    // quadratic re-optimization of the growing lineage), and stop as
    // soon as a frontier comes back empty (the probe on a materialized
    // checkpoint reads one cached partition — trivial). Shallow walks
    // (g3-style 1-2 hops) stay fully lazy — one Catalyst plan, no extra
    // jobs.
    val deep = maxHops >= 3
    val e0 = edges.select(col(from).as("walk_from"), col(to).as("walk_to"))
    // Deep walks materialize the static edge relation once (lazy mark
    // + count in ONE job — the count is also the size-gate input). BIG
    // deep walks additionally get the AQE-off hash-partitioned
    // checkpointed layout so every hop's equi-join reads the edge side
    // exchange-free and only the (smaller) frontier side moves (guide
    // §2.4) — mechanism, the AQE/UnknownPartitioning gotcha it works
    // around, and the measured 237.3→49.3 MB per-walk shuffle-write
    // drop are documented on [[WalkLayout]] (r12; hop-plan evidence in
    // plans/r12/). The size gate (r12) is because the pinned-width
    // layout LOSES at gate scale: it defeats AQE's small-data
    // coalescing and schedules ~3 exchanges × width near-empty tasks
    // per hop (measured: the r11 a13 gate ran ~2× slower than the
    // planner-chosen shape).
    val (ecp, nEdges) =
      if (deep) WalkLayout.materializeCounted(e0) else (e0, 0L)
    val big = deep && nEdges >= WalkLayout.minRows(edges)
    val e = if (big) WalkLayout.partitionedCheckpoint(ecp, "walk_from")
      else ecp
    // the seed derivation can itself be a multi-join plan (a13 roots the
    // walk at the EntryPoints detector output): left unmaterialized it is
    // re-derived by EVERY hop's anti-join against acc — checkpoint it once
    val s0 = seeds.select(col("id"), lit(0).as("dist"))
    var acc = if (deep) s0.localCheckpoint(eager = true) else s0
    var frontier = acc
    var hop = 1
    var growing = true
    while (growing && hop <= maxHops) {
      // distinct on id ALONE (dist is a per-hop constant — attached
      // after) so the aggregate's output partitioning is hash(id) and
      // the anti-join's left side needs no further exchange. BIG deep
      // walks additionally hint shuffle_hash: their frontiers grow
      // toward corpus scale (checkpointed RDDs carry no size stats, so
      // the planner would fall back to sort-merge and re-sort every
      // hop); small/shallow walks stay hint-free — their seed-scale
      // frontiers get planner-chosen broadcast joins and AQE-coalesced
      // exchanges, which the hint would override with pinned-width
      // shuffles (g3's plan and the r12 a13 gate measurement are the
      // regression witnesses).
      val frontierSide = if (big) frontier.hint("shuffle_hash") else frontier
      val accSide =
        if (big) acc.select("id").hint("shuffle_hash") else acc.select("id")
      val next = e.join(frontierSide,
          e("walk_from") === frontierSide("id"))
        .select(col("walk_to").as("id"))
        .distinct()
        .join(accSide, Seq("id"), "left_anti")
        .select(col("id"), lit(hop).as("dist"))
      if (deep) {
        // loop-body plan evidence (VERDICT r11 #3): no-op unless the
        // PlanDump session conf is set
        graft.PlanDump.probe(next, s"minDist_hop$hop")
        // r12 (VERDICT r11 #5): mark the checkpoint lazily, then
        // materialize it WITH the emptiness probe in ONE scheduled job
        // — eager=true ran an internal count job and the old
        // limit(1).count() then scheduled MORE jobs per hop just to
        // ask "empty?". The single-job RDD count computes every
        // partition (persisting each under the localCheckpoint mark —
        // a limit(1) probe alone would leave most partitions
        // uncomputed, unpersisted, and the lineage re-derivable) and
        // answers the probe in the same pass; a SQL count() here would
        // cost TWO AQE jobs (see WalkLayout.materializedCount).
        val p = next.localCheckpoint(eager = false)
        growing = WalkLayout.materializedCount(p) > 0
        frontier = p
      } else frontier = next
      acc = acc.unionByName(frontier)
      hop += 1
    }
    acc.groupBy("id").agg(min("dist").as("dist"))
  }

  /** BFS with path capture and cycle detection (J9,
    * `knowledge_graph.py:3275-3390`): no path revisits a vertex, and each
    * level keeps its first `maxPaths` paths in Spark's array order
    * (element-wise UTF-8 bytes), emitted level by level in that order.
    * The frontier stays on the driver, as in the reference's per-hop
    * queries: one job per level scans the edges for its out-edges, until
    * `maxDepth` or an empty level. Memory bound: at most `maxDepth ×
    * maxPaths` paths plus, per hop, the out-edges of at most `maxPaths`
    * ids; never the edge table. Returns a one-partition local relation.
    */
  def bfsPaths(edges: DataFrame, srcId: String, maxDepth: Int = 8,
      maxPaths: Int = 1000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val levels = Iterator.iterate(Vector(Vector(UTF8String.fromString(srcId)))) {
      frontier =>
        val out = edges
          .filter(col("src").isin(frontier.map(_.last.toString).distinct: _*) &&
            col("dst").isNotNull)
          .select("src", "dst").collect()
          .map(r => (UTF8String.fromString(r.getString(0)),
            UTF8String.fromString(r.getString(1))))
          .sortBy(_._2).groupMap(_._1)(_._2)
        // the frontier is in path order and its paths have one size, so
        // extending each distinct path (once per copy; parallel edges make
        // copies) by its sorted out-edges yields the next level in order
        val copies = frontier.groupMapReduce(identity)(_ => 1)(_ + _)
        frontier.distinct.iterator.flatMap(p =>
            out.getOrElse(p.last, Array.empty).iterator.filterNot(p.contains)
              .flatMap(d => Iterator.fill(copies(p))(p :+ d)))
          .take(maxPaths).toVector
    }.slice(1, maxDepth + 1).takeWhile(_.nonEmpty)
    levels.flatten.map(p => (p.last.toString, p.map(_.toString))).toSeq
      .toDF("id", "path").coalesce(1)
  }

  /** Transitive closure of one relation type (INHERITS* —
    * `knowledge_graph.py:3601-3605`), iteration-capped.
    */
  def closure(edges: DataFrame, relType: String, maxHops: Int = 16): DataFrame = {
    val base = edges.filter(col("rel_type") === relType)
      .select(col("src"), col("dst"))
    var acc = base
    var frontier = base
    var hop = 1
    var growing = true
    while (growing && hop < maxHops) {
      val next = frontier.as("f").join(base.as("b"),
          col("f.dst") === col("b.src"))
        .select(col("f.src").as("src"), col("b.dst").as("dst"))
        .distinct()
        .join(acc, Seq("src", "dst"), "left_anti")
        // r12: lazy checkpoint mark + single-job RDD count =
        // materialize + probe in ONE job per hop (see minDist /
        // WalkLayout.materializedCount)
        .localCheckpoint(eager = false)
      growing = WalkLayout.materializedCount(next) > 0
      acc = acc.unionByName(next)
      frontier = next
      hop += 1
    }
    acc
  }

  /** A17 stats: counts per vertex label and edge rel_type. */
  def stats(kg: KgTables): (DataFrame, DataFrame) =
    (kg.vertices.groupBy("label").count(), kg.edges.groupBy("rel_type").count())

  /** Authorship subgraph from a change-log table (commit_hash, author,
    * file_path, ts): Person/Commit/File vertices, Person -AUTHORED->
    * Commit and Commit -MODIFIED-> File edges — the reference's
    * Person/AUTHORED/MODIFIED KG slice built from git history
    * (`core/knowledge_graph.py:611-705`, `core/kg_builder.py:2874-3075`).
    * Edges carry the change timestamp (null for AUTHORED) so temporal
    * filters push down to the edge scan.
    */
  /** Doc graph (reference node tables Document/DocSection/Topic, rel
    * tables CONTAINS_SECTION/FOLLOWS/LINKS_TO/REFERENCES/HAS_TOPIC,
    * `core/knowledge_graph.py:354-607`): built from `doc_section` chunks
    * (markdown header chunking). REFERENCES resolves backtick code refs
    * against the code-entity vertices (pass `fromChunks(...).vertices`).
    * All channels are equi-joins / per-document windows — nothing
    * all-pairs; the FOLLOWS window is partitioned by file.
    */
  def docGraph(chunks: DataFrame, codeVertices: DataFrame,
      topicK: Int = 5): KgTables = {
    import graft.text.NlpExtract
    val sections = chunks.filter(col("chunk_type") === "doc_section")
      .select(concat(lit("sec:"), col("chunk_id")).as("sid"),
        col("chunk_id"), col("name"), col("content"),
        col("file_path"), col("parent_name"), col("start_line"))

    val docs = sections.select(col("file_path")).distinct()
      .select(concat(lit("doc:"), col("file_path")).as("id"),
        lit("document").as("label"),
        regexp_extract(col("file_path"), "([^/]+)$", 1).as("name"),
        col("file_path"), lit("").as("parent_name"))
    val secV = sections.select(col("sid").as("id"),
      lit("doc_section").as("label"), col("name"),
      col("file_path"), col("parent_name"))

    val containsSection = sections.select(
      concat(lit("doc:"), col("file_path")).as("src"),
      col("sid").as("dst"), lit("CONTAINS_SECTION").as("rel_type"))

    val w = Window.partitionBy(col("file_path"))
      .orderBy(col("start_line"), col("chunk_id"))
    val follows = sections
      .withColumn("prev", lag(col("sid"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("sid").as("src"), col("prev").as("dst"),
        lit("FOLLOWS").as("rel_type"))

    // markdown link targets `[text](target)`; external links dropped
    val links = sections.select(col("sid").as("src"),
      explode(array_distinct(regexp_extract_all(col("content"),
        lit("\\]\\(([^)]+)\\)"), lit(1)))).as("target"))
      .filter(!col("target").startsWith("http") &&
        !col("target").startsWith("#"))
      .select(col("src"), concat(lit("doc:"), col("target")).as("dst"),
        lit("LINKS_TO").as("rel_type"))

    // backtick code refs resolved by bare entity name (`foo.bar()` → foo)
    val byName = codeVertices
      .filter(col("label").isin("function", "class", "method"))
      .select(col("name").as("ref_name"), col("id").as("dst"))
    val refs = sections.select(col("sid").as("src"),
      explode(NlpExtract.codeRefs(col("content"))).as("raw"))
      .withColumn("ref_name", regexp_extract(col("raw"), "^([A-Za-z_]\\w*)", 1))
      .filter(col("ref_name") =!= "")
      .join(byName, Seq("ref_name"))
      .select(col("src"), col("dst"), lit("REFERENCES").as("rel_type"))

    val topics = sections.select(col("sid").as("src"),
      explode(NlpExtract.keywords(col("content"), topicK)).as("topic"))
    val topicV = topics.select(col("topic")).distinct()
      .select(concat(lit("topic:"), col("topic")).as("id"),
        lit("topic").as("label"), col("topic").as("name"),
        lit("").as("file_path"), lit("").as("parent_name"))
    val hasTopic = topics.select(col("src"),
      concat(lit("topic:"), col("topic")).as("dst"),
      lit("HAS_TOPIC").as("rel_type"))

    val edges = containsSection.unionByName(follows).unionByName(links)
      .unionByName(refs).unionByName(hasTopic)
      .withColumn("weight", lit(1.0))
      .dropDuplicates("src", "dst", "rel_type")
    KgTables(docs.unionByName(secV).unionByName(topicV).dropDuplicates("id"),
      edges)
  }

  /** Module-prefix → (framework, language) detection table — the
    * ProgrammingFramework analog of `kg_builder.py`'s framework nodes.
    */
  val FrameworkByModule: Map[String, (String, String)] = Map(
    "react" -> (("react", "javascript")),
    "express" -> (("express", "javascript")),
    "vue" -> (("vue", "javascript")),
    "angular" -> (("angular", "typescript")),
    "django" -> (("django", "python")),
    "flask" -> (("flask", "python")),
    "fastapi" -> (("fastapi", "python")),
    "numpy" -> (("numpy", "python")),
    "pandas" -> (("pandas", "python")),
    "torch" -> (("pytorch", "python")),
    "rails" -> (("rails", "ruby")),
    "laravel" -> (("laravel", "php")),
    "spring" -> (("spring", "java")),
    "flutter" -> (("flutter", "dart")),
    "tokio" -> (("tokio", "rust")),
    "serde" -> (("serde", "rust")),
    "gin" -> (("gin", "go")),
    "spark" -> (("spark", "scala")))

  /** Language/framework graph (reference node tables
    * ProgrammingLanguage/ProgrammingFramework, rel tables
    * WRITTEN_IN/USES_FRAMEWORK/FRAMEWORK_FOR,
    * `core/knowledge_graph.py:760-880`): file -WRITTEN_IN-> language
    * from the chunk language column; frameworks detected from import
    * roots via the broadcast FrameworkByModule table.
    */
  def langGraph(chunks: DataFrame): KgTables = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val fileLang = chunks.select(col("file_path"), col("language")).distinct()
    val langV = fileLang.select(col("language")).distinct()
      .select(concat(lit("lang:"), col("language")).as("id"),
        lit("language").as("label"), col("language").as("name"),
        lit("").as("file_path"), lit("").as("parent_name"))
    val writtenIn = fileLang.select(col("file_path").as("src"),
      concat(lit("lang:"), col("language")).as("dst"),
      lit("WRITTEN_IN").as("rel_type"))

    val fwTable = FrameworkByModule.toSeq
      .map { case (root, (fw, lang)) => (root, fw, lang) }
      .toDF("root", "framework", "fw_lang")
    val fileFw = chunks
      .select(col("file_path"), explode(col("imports")).as("imp"))
      .withColumn("root", lower(regexp_extract(col("imp"), "^([A-Za-z0-9_]+)", 1)))
      .join(broadcast(fwTable), Seq("root"))
      .select(col("file_path"), col("framework"), col("fw_lang"))
      .distinct()
    val fwV = fileFw.select(col("framework")).distinct()
      .select(concat(lit("framework:"), col("framework")).as("id"),
        lit("framework").as("label"), col("framework").as("name"),
        lit("").as("file_path"), lit("").as("parent_name"))
    val usesFw = fileFw.select(col("file_path").as("src"),
      concat(lit("framework:"), col("framework")).as("dst"),
      lit("USES_FRAMEWORK").as("rel_type"))
    val fwFor = fileFw.select(
      concat(lit("framework:"), col("framework")).as("src"),
      concat(lit("lang:"), col("fw_lang")).as("dst"),
      lit("FRAMEWORK_FOR").as("rel_type")).distinct()

    val edges = writtenIn.unionByName(usesFw).unionByName(fwFor)
      .withColumn("weight", lit(1.0))
      .dropDuplicates("src", "dst", "rel_type")
    KgTables(langV.unionByName(fwV).dropDuplicates("id"), edges)
  }

  def authorshipGraph(changes: DataFrame): KgTables =
    authorshipGraph(changes, "", "")

  /** Person/Commit/File authorship graph, optionally rooted in
    * Branch/Repository vertices (reference `knowledge_graph.py:611-858`):
    * person -AUTHORED-> commit, commit -MODIFIES-> file (reference
    * Commit→File rel name), person -MODIFIED-> file (reference
    * Person→File rel name), commit -COMMITTED_TO-> branch
    * -BELONGS_TO-> repository when names are given.
    */
  def authorshipGraph(changes: DataFrame, repoName: String,
      branchName: String): KgTables = {
    val persons = changes.select(col("author")).distinct()
      .select(concat(lit("person:"), col("author")).as("id"),
        lit("person").as("label"), col("author").as("name"),
        lit("").as("file_path"), lit("").as("parent_name"))
    val commits = changes.select(col("commit_hash")).distinct()
      .select(concat(lit("commit:"), col("commit_hash")).as("id"),
        lit("commit").as("label"), col("commit_hash").as("name"),
        lit("").as("file_path"), lit("").as("parent_name"))
    val files = changes.select(col("file_path")).distinct()
      .select(col("file_path").as("id"), lit("file").as("label"),
        regexp_extract(col("file_path"), "([^/]+)$", 1).as("name"),
        col("file_path"), lit("").as("parent_name"))
    val authored = changes
      .select(concat(lit("person:"), col("author")).as("src"),
        concat(lit("commit:"), col("commit_hash")).as("dst"))
      .distinct()
      .select(col("src"), col("dst"), lit("AUTHORED").as("rel_type"),
        lit(null).cast("timestamp").as("ts"))
    val modifies = changes
      .groupBy(col("commit_hash"), col("file_path"))
      .agg(max(col("ts")).as("ts"))
      .select(concat(lit("commit:"), col("commit_hash")).as("src"),
        col("file_path").as("dst"), lit("MODIFIES").as("rel_type"), col("ts"))
    val modifiedBy = changes
      .groupBy(col("author"), col("file_path"))
      .agg(max(col("ts")).as("ts"))
      .select(concat(lit("person:"), col("author")).as("src"),
        col("file_path").as("dst"), lit("MODIFIED").as("rel_type"), col("ts"))
    val base = KgTables(
      persons.unionByName(commits).unionByName(files).dropDuplicates("id"),
      authored.unionByName(modifies).unionByName(modifiedBy))
    if (repoName.isEmpty) base
    else {
      val spark = changes.sparkSession
      import spark.implicits._
      val branchId = s"branch:$repoName/$branchName"
      val repoId = s"repo:$repoName"
      val extraV = Seq(
        (branchId, "branch", branchName, "", ""),
        (repoId, "repository", repoName, "", ""))
        .toDF("id", "label", "name", "file_path", "parent_name")
      val committedTo = changes.select(col("commit_hash")).distinct()
        .select(concat(lit("commit:"), col("commit_hash")).as("src"),
          lit(branchId).as("dst"), lit("COMMITTED_TO").as("rel_type"),
          lit(null).cast("timestamp").as("ts"))
      val belongsTo = Seq((branchId, repoId, "BELONGS_TO"))
        .toDF("src", "dst", "rel_type")
        .withColumn("ts", lit(null).cast("timestamp"))
      KgTables(base.vertices.unionByName(extraV),
        base.edges.unionByName(committedTo).unionByName(belongsTo))
    }
  }

  /** Temporal co-change: files modified within [fromTs, toTs] by authors
    * who also changed `seedFile` in that window — the person←commit→file
    * 2-hop with the time predicate pushed onto the edge/change scan
    * (reference temporal KG queries, `knowledge_graph.py:3395-3521`).
    * The seed-author set is small → broadcast; no shuffle of the big side
    * beyond the final per-(author, file) aggregate.
    */
  def coChangedFiles(changes: DataFrame, seedFile: String,
      fromTs: org.apache.spark.sql.Column,
      toTs: org.apache.spark.sql.Column): DataFrame = {
    val win = changes.filter(col("ts").between(fromTs, toTs))
    val seedAuthors = win.filter(col("file_path") === seedFile)
      .select(col("author")).distinct()
    win.join(broadcast(seedAuthors), Seq("author"))
      .filter(col("file_path") =!= seedFile)
      .groupBy(col("author"), col("file_path"))
      .agg(count(lit(1)).as("n_changes"), max(col("ts")).as("last_ts"))
  }

  /** Commit-ancestry closure: every commit reachable from `refSha` via
    * parent edges (inclusive of the ref itself). The distributed analog
    * of `is_ancestor_commit` (`core/git_utils.py`) that the temporal KG
    * filters call once per stored SHA (`knowledge_graph.py:3430-3435`):
    * instead of a subprocess per (sha, ref) pair, one iterative DAG
    * traversal materializes the whole ancestor set, then membership is a
    * join. Frontier is DISTINCT per hop and anti-joined against the
    * accumulated set, so converged branches stop contributing; real git
    * DAGs are deep, so the hop cap is high but each hop is one
    * broadcastable equi-join on the (commit, parent) relation.
    */
  def ancestorClosure(parents: DataFrame, refSha: String,
      maxHops: Int = 1024): DataFrame = {
    val spark = parents.sparkSession
    import spark.implicits._
    // materialize the parent relation once: every hop joins against it,
    // and an unmaterialized plan would re-derive it (rescanning its
    // source) once per hop — the dominant cost of the loop
    val par = parents.select(col("commit_hash"), col("parent_hash"))
      .localCheckpoint(eager = true)
    var acc = Seq(refSha).toDF("commit_hash")
    var frontier = acc
    var hop = 1
    var growing = true
    while (growing && hop <= maxHops) {
      // per-hop eager checkpoint: `acc` feeds the anti-join of every
      // later hop, so an unmaterialized step would be recomputed
      // quadratically as the union grows (measured 3× slower with
      // every-3rd-hop checkpointing). The checkpoint must TRUNCATE the
      // plan (localCheckpoint, not persist) — a persist-based variant
      // was measured to blow up Catalyst on the growing lineage. The
      // emptiness probe on the materialized checkpoint reads one cached
      // partition; the real cross-query saving is the memo in ancestors.
      val next = par.join(frontier, Seq("commit_hash"))
        .select(col("parent_hash").as("commit_hash"))
        .distinct()
        .join(acc, Seq("commit_hash"), "left_anti")
        // r12: lazy checkpoint mark + single-job RDD count =
        // materialize + probe in ONE job per hop (see minDist /
        // WalkLayout.materializedCount)
        .localCheckpoint(eager = false)
      growing = WalkLayout.materializedCount(next) > 0
      acc = acc.unionByName(next)
      frontier = next
      hop += 1
    }
    acc
  }

  /** [[ancestorClosure]] memoized in the Registry on (parent-DAG plan
    * identity, refSha): the closure for a (repo, ref) never changes
    * within a session, yet every temporal-KG query (`entitiesAtCommit`,
    * `callersAtCommit`, kg_history) needs the same set. The closure ends
    * in an eager localCheckpoint, so the memoized DataFrame is a
    * metadata-scale in-memory relation, safe to broadcast. Plan identity
    * is Catalyst's semanticHash of the analyzed plan: two lexically
    * separate reads of one source canonicalize to the same hash, so g7
    * and g8 share one walk without threading a key through the API.
    */
  private def ancestors(parents: DataFrame, refSha: String): DataFrame =
    graft.Registry.memo("ancestry",
        (parents.queryExecution.analyzed.semanticHash(), refSha)) {
      ancestorClosure(parents, refSha)
    }

  /** Entities visible at `refSha` (`knowledge_graph.py:3395-3464`
    * `get_entities_at_commit`): rows whose `commit_sha` is non-empty and
    * an ancestor of (or equal to) the ref. The ancestor set is tiny next
    * to the entity table, so membership is a broadcast semi join — the
    * entity side never shuffles.
    */
  def entitiesAtCommit(entities: DataFrame, parents: DataFrame,
      refSha: String): DataFrame = {
    val anc = ancestors(parents, refSha)
      .withColumnRenamed("commit_hash", "commit_sha")
    entities.filter(col("commit_sha") =!= "")
      .join(broadcast(anc), Seq("commit_sha"), "left_semi")
  }

  /** The kg_query relationship keywords (`mcp/tool_schemas.py:710-718`):
    * keyword → (edge rel_type, follow-outgoing?).
    */
  val RelationshipKeywords: Map[String, (String, Boolean)] = Map(
    "calls" -> ("CALLS", true), "called_by" -> ("CALLS", false),
    "imports" -> ("IMPORTS", true), "imported_by" -> ("IMPORTS", false),
    "inherits" -> ("INHERITS", true), "inherited_by" -> ("INHERITS", false),
    "contains" -> ("CONTAINS", true), "contained_by" -> ("CONTAINS", false))

  /** kg_query entity lookup (`mcp/tool_schemas.py:700-772`): entities
    * related to `entityName`, optionally filtered to one of the 8
    * directional relationship keywords; no filter = 1-hop in either
    * direction. The seed and neighbour id sets are tiny → broadcast;
    * one pass over the edge relation and one over the vertices.
    */
  def related(kg: KgTables, entityName: String,
      relationship: Option[String] = None, limit: Int = 25): DataFrame = {
    val ids = kg.vertices.filter(col("name") === entityName)
      .select(col("id"))
    val neighborIds = relationship match {
      case Some(r) =>
        val (rel, outgoing) = RelationshipKeywords(r)
        val e = kg.edges.filter(col("rel_type") === rel)
        if (outgoing)
          e.join(broadcast(ids), e("src") === ids("id"))
            .select(e("dst").as("id"))
        else
          e.join(broadcast(ids), e("dst") === ids("id"))
            .select(e("src").as("id"))
      case None => oneHop(kg.edges, ids)
    }
    kg.vertices.join(broadcast(neighborIds.distinct()), Seq("id"))
      .select(col("id"), col("name"), col("label"))
      .orderBy(col("name"), col("id"))
      .limit(limit)
  }

  /** Entity history (kg_history tool, `knowledge_graph.py:3523-3570`):
    * one row per distinct (file_path, commit_sha) for the name — renamed
    * entities stored under different IDs collapse onto their location +
    * commit. Where the reference keeps the first row an engine iteration
    * happens to yield, this keeps min(entity_type) — deterministic under
    * any partitioning.
    */
  def entityHistory(entities: DataFrame, entityName: String): DataFrame =
    entities.filter(col("name") === entityName)
      .groupBy(col("name"), col("file_path"), col("commit_sha"))
      .agg(min(col("entity_type")).as("entity_type"))
      .select(col("name"), col("entity_type"), col("file_path"),
        col("commit_sha"))

  /** CALLS edges into entities named `calleeName` whose CALLER's
    * commit_sha is an ancestor of the ref (`knowledge_graph.py:3466-3521`
    * `get_callers_at_commit`). `entities` needs (id, name, file_path,
    * commit_sha); `callsEdges` needs (src, dst, rel_type). Callee match
    * and ancestor set are both small → broadcast joins around one pass
    * over the edge relation.
    */
  def callersAtCommit(callsEdges: DataFrame, entities: DataFrame,
      calleeName: String, parents: DataFrame, refSha: String): DataFrame = {
    val callees = entities.filter(col("name") === calleeName)
      .select(col("id").as("dst"), col("name").as("callee_name"))
    val anc = ancestors(parents, refSha)
      .withColumnRenamed("commit_hash", "caller_commit_sha")
    callsEdges.filter(col("rel_type") === "CALLS")
      .join(broadcast(callees), Seq("dst"))
      .select(col("src").as("caller_id"), col("callee_name"))
      .join(entities.select(col("id").as("caller_id"),
        col("name").as("caller_name"), col("file_path").as("caller_file"),
        col("commit_sha").as("caller_commit_sha")), Seq("caller_id"))
      .filter(col("caller_commit_sha") =!= "")
      .join(broadcast(anc), Seq("caller_commit_sha"), "left_semi")
      .select(col("caller_id"), col("caller_name"), col("caller_file"),
        col("caller_commit_sha"), col("callee_name"))
  }
}
