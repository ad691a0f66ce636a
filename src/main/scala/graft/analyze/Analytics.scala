package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.Kg

/** Code-quality + repo analytics (SURVEY §2.4 A8-A16, A18) as pure
  * aggregations over the chunks table / KG edges. Everything partial-
  * aggregable; the only iterative piece (dead-code reachability) reuses
  * the KG frontier join.
  */
object Analytics {

  /** A10 coupling: efferent (imports out), afferent (imported by),
    * instability I = Ce/(Ca+Ce), letter grades.
    */
  def coupling(chunks: DataFrame): DataFrame = {
    val fileImports = chunks
      .select(col("file_path"), explode(col("imports")).as("module"))
      .distinct()
    // afferent: how many *other files* import a module that maps to this
    // file's basename (heuristic module→file resolution, as the
    // reference's import resolution is heuristic too, coupling.py:761-900)
    val ce = fileImports.groupBy("file_path")
      .agg(countDistinct("module").as("efferent"))
    val basename = chunks.select(col("file_path")).distinct()
      .withColumn("modname",
        regexp_extract(col("file_path"), "([^/]+?)\\.[a-z]+$", 1))
    val ca = fileImports.as("fi")
      .join(basename.as("b"),
        col("fi.module").endsWith(col("b.modname")) &&
          col("fi.file_path") =!= col("b.file_path"))
      .groupBy(col("b.file_path").as("file_path"))
      .agg(countDistinct(col("fi.file_path")).as("afferent"))
    basename.select("file_path")
      .join(ce, Seq("file_path"), "left")
      .join(ca, Seq("file_path"), "left")
      .na.fill(0L, Seq("efferent", "afferent"))
      .withColumn("instability",
        when(col("efferent") + col("afferent") === 0, 0.0)
          .otherwise(col("efferent").cast("double") /
            (col("efferent") + col("afferent"))))
      .withColumn("grade",
        when(col("instability") <= 0.2, "A")
          .when(col("instability") <= 0.4, "B")
          .when(col("instability") <= 0.6, "C")
          .when(col("instability") <= 0.8, "D").otherwise("F"))
  }

  /** A11 import-cycle detection: 3-color DFS on the (small) module-level
    * import graph, driver-side after aggregation — edge count is
    * O(files·avg imports), metadata-scale even for huge repos; the
    * distributed part is the aggregation producing it.
    */
  def importCycles(chunks: DataFrame, maxEdges: Int = 200000): Seq[Seq[String]] =
    importCyclesTruncated(chunks, maxEdges)._1

  /** [[importCycles]] plus a `truncated` flag: true when the import
    * graph exceeded `maxEdges` and the enumeration is therefore PARTIAL
    * (also logged as a warning). The cap is a driver-memory guard; a
    * bound result with no signal would silently under-report cycles on
    * a huge monorepo — callers needing completeness at that scale use
    * the distributed [[cyclicFiles]].
    */
  def importCyclesTruncated(chunks: DataFrame,
      maxEdges: Int = 200000): (Seq[Seq[String]], Boolean) = {
    // over-fetch by one so the cap binding is detectable without a
    // separate count job
    val fetched = chunks
      .select(col("file_path"), explode(col("imports")).as("module"))
      .distinct()
      .limit(maxEdges + 1)
      .collect()
    val truncated = fetched.length > maxEdges
    if (truncated)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"importCycles: import graph exceeds maxEdges=$maxEdges — " +
          "cycle enumeration is PARTIAL; raise maxEdges or use the " +
          "distributed cyclicFiles variant")
    val edges = fetched.take(maxEdges)
      .map(r => (r.getString(0), r.getString(1)))
    val byModule = edges.groupBy(_._1.replaceAll(""".*/""", "")
      .replaceAll("""\.[a-z]+$""", ""))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val fileOfModule = byModule.view.mapValues(_.head._1).toMap
    val cycles = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    val color = scala.collection.mutable.Map.empty[String, Int] // 0 white 1 grey 2 black
    def dfs(file: String, stack: List[String]): Unit = {
      color(file) = 1
      for (m <- adj.getOrElse(file, Array.empty[String]);
           nf <- fileOfModule.get(m) if nf != file) {
        color.getOrElse(nf, 0) match {
          case 0 => dfs(nf, nf :: stack)
          case 1 => cycles += (nf :: stack).reverse.dropWhile(_ != nf)
          case _ =>
        }
      }
      color(file) = 2
    }
    adj.keys.toSeq.sorted.foreach(f => if (color.getOrElse(f, 0) == 0) dfs(f, List(f)))
    (cycles.toSeq, truncated)
  }

  /** A11 (distributed companion to `importCycles`): files participating
    * in an import cycle — self-reachability over the resolved file→file
    * import graph within `maxHops`. The DFS above enumerates the cycle
    * paths driver-side (sanctioned: the edge list is metadata-scale);
    * this variant is pure DataFrame algebra — module resolution is an
    * equi-join on the module's last dotted segment vs the file basename
    * (the heuristic resolution of `coupling.py:761-900` recast as a
    * joinable key), the closure is `Kg.closure`'s bounded frontier walk
    * — so it scales with the cluster and mirrors as a recursive CTE.
    */
  def cyclicFiles(chunks: DataFrame, maxHops: Int = 12): DataFrame = {
    val imp = chunks
      .select(col("file_path"), explode(col("imports")).as("module"))
      .distinct()
      .select(col("file_path").as("src"),
        element_at(split(col("module"), "\\."), -1).as("modname"))
    val tgt = chunks.select(col("file_path")).distinct()
      .select(col("file_path").as("dst"),
        regexp_extract(col("file_path"), "([^/]+?)\\.[a-z]+$", 1).as("modname"))
    // materialize once, then close by PATH DOUBLING with exact min-hop
    // tracking: dist(u,v) after round i is the exact min-hop distance
    // for every pair within 2^i hops, so 12 hops cost 4 iterations
    // instead of 12 frontier jobs — the per-hop job-scheduling floor is
    // the cost driver on this metadata-scale graph, not data volume.
    // Pairs beyond maxHops are pruned each round: a path of length
    // ≤ maxHops decomposes into parts each ≤ maxHops, so pruning never
    // loses an in-bound pair, and the final filter enforces the
    // documented "within maxHops" bound precisely (matching the
    // 12-hop-capped recursive-CTE oracle).
    // Each round re-bases on a bare LogicalRDD (createDataFrame over the
    // checkpointed RDD): the self-join + union would otherwise trip
    // Union.rewriteConstraints on stale pre-checkpoint attribute ids.
    def strip(df: DataFrame): DataFrame =
      chunks.sparkSession.createDataFrame(df.rdd, df.schema)
    var acc = strip(imp.join(tgt, "modname")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .withColumn("hops", lit(1L))
      .localCheckpoint(true))
    def state(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum("hops"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var span = 1
    var st = state(acc)
    var growing = true
    while (growing && span < maxHops) {
      val next = strip(acc.as("x")
        .join(acc.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"),
          (col("x.hops") + col("y.hops")).as("hops"))
        .unionByName(acc)
        .groupBy(col("src"), col("dst"))
        .agg(min(col("hops")).as("hops"))
        .filter(col("hops") <= maxHops)
        .localCheckpoint(true))
      val m = state(next)
      growing = m != st
      st = m
      acc = next
      span *= 2
    }
    acc.filter(col("src") === col("dst"))
      .select(col("src").as("file_path")).distinct()
  }

  /** A12 code smells: threshold rules → exploded (chunk_id, smell,
    * severity) rows (`analysis/collectors/smells.py` semantics).
    */
  def smells(chunks: DataFrame): DataFrame = {
    val nLines = col("end_line") - col("start_line") + 1
    val nParams = size(split(regexp_extract(col("signature"), "\\(([^)]*)\\)", 1), ","))
    val rules = array(
      when(nLines > 50, struct(lit("long_method").as("smell"), lit("major").as("severity"))),
      when(col("complexity") > 10, struct(lit("high_complexity").as("smell"), lit("critical").as("severity"))),
      when(col("complexity") > 5 && col("complexity") <= 10, struct(lit("moderate_complexity").as("smell"), lit("minor").as("severity"))),
      when(nParams > 5, struct(lit("too_many_params").as("smell"), lit("major").as("severity"))),
      when(col("docstring") === "" && col("chunk_type").isin("function", "method", "class") && nLines > 10,
        struct(lit("missing_docstring").as("smell"), lit("info").as("severity"))))
    chunks
      .withColumn("s", explode(array_compact(rules)))
      .select(col("chunk_id"), col("file_path"), col("name"),
        col("s.smell"), col("s.severity"))
  }

  /** Chunk complexity grade A-F on cognitive complexity
    * (`analysis/metrics.py:52-67`): ≤5 A, ≤10 B, ≤20 C, ≤30 D, else F.
    */
  def complexityGrade(cognitive: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(cognitive <= 5, "A").when(cognitive <= 10, "B")
      .when(cognitive <= 20, "C").when(cognitive <= 30, "D").otherwise("F")

  /** Grade distribution across all chunks
    * (`analysis/metrics.py:382-394`, surfaced by analyze_project).
    */
  def gradeDistribution(chunks: DataFrame): DataFrame =
    chunks
      .select(complexityGrade(col("cognitive_complexity")).as("grade"))
      .groupBy(col("grade")).agg(count(lit(1)).as("n_chunks"))

  /** Per-file health score (`analysis/metrics.py:232-266`, surfaced by
    * analyze_file / analyze_project): 1.0 minus a complexity-banded
    * penalty (avg cognitive >30 −0.5, >20 −0.3, >10 −0.2, >5 −0.1), a
    * 5%-per-smell penalty capped at 30%, and a comment-ratio band
    * penalty (−0.1 outside [0.1, 0.5]); clamped at 0. Comment lines are
    * trimmed lines opening with a comment marker (hash, slash-slash,
    * slash-star, star, dash-dash).
    */
  def fileHealth(chunks: DataFrame): DataFrame = {
    val smellCounts = smells(chunks).groupBy(col("file_path"))
      .agg(count(lit(1)).as("n_smells"))
    val commentLines = size(filter(split(col("content"), "\n"),
      l => trim(l).rlike("^(#|//|/\\*|\\*|--)")))
    val perFile = chunks.groupBy(col("file_path")).agg(
      avg(col("cognitive_complexity")).as("avg_cx"),
      sum(commentLines.cast("long")).as("comment_lines"),
      sum((col("end_line") - col("start_line") + 1).cast("long"))
        .as("total_lines"))
    val joined = perFile.join(smellCounts, Seq("file_path"), "left")
      .withColumn("n_smells", coalesce(col("n_smells"), lit(0L)))
    val cxPenalty = when(col("avg_cx") > 30, 0.5)
      .when(col("avg_cx") > 20, 0.3)
      .when(col("avg_cx") > 10, 0.2)
      .when(col("avg_cx") > 5, 0.1)
      .otherwise(0.0)
    val smellPenalty = least(lit(0.3), col("n_smells") * 0.05)
    val ratio = col("comment_lines").cast("double") / col("total_lines")
    val ratioPenalty = when(col("total_lines") > 0 &&
      (ratio < 0.1 || ratio > 0.5), 0.1).otherwise(0.0)
    joined.select(
      col("file_path"), col("avg_cx"), col("n_smells"),
      col("comment_lines"), col("total_lines"),
      greatest(lit(0.0),
        lit(1.0) - cxPenalty - smellPenalty - ratioPenalty)
        .as("health_score"))
  }

  /** A14 complexity hotspots: top-N chunks/files by complexity. */
  def hotspots(chunks: DataFrame, n: Int): DataFrame =
    chunks
      .filter(col("chunk_type").isin("function", "method", "class"))
      .orderBy(col("complexity").desc, col("chunk_id"))
      .select("file_path", "name", "chunk_type", "complexity", "token_count")
      .limit(n)

  /** A9 Halstead metrics per chunk from token classes (operators ~
    * punctuation/keywords, operands ~ identifiers/literals).
    */
  def halstead(chunks: DataFrame): DataFrame = {
    val ops = regexp_extract_all(col("content"),
      lit("""[-+*/%=<>!&|^~]+|\b(if|else|for|while|return|def|class)\b"""), lit(0))
    val operands = regexp_extract_all(col("content"), lit("""\b[A-Za-z_]\w*\b|\b\d+\b"""), lit(0))
    chunks.select(col("chunk_id"), col("name"), ops.as("ops"), operands.as("opnds"))
      .withColumn("n1", size(array_distinct(col("ops"))))
      .withColumn("n2", size(array_distinct(col("opnds"))))
      .withColumn("bigN1", size(col("ops")))
      .withColumn("bigN2", size(col("opnds")))
      .withColumn("vocabulary", col("n1") + col("n2"))
      .withColumn("length", col("bigN1") + col("bigN2"))
      .withColumn("volume",
        when(col("vocabulary") > 0,
          col("length") * log2(col("vocabulary"))).otherwise(0.0))
      .withColumn("difficulty",
        when(col("n2") > 0, col("n1") / lit(2.0) * col("bigN2") / col("n2"))
          .otherwise(0.0))
      .withColumn("effort", col("volume") * col("difficulty"))
      .drop("ops", "opnds")
  }

  /** A16 directory rollups: recursive per-directory totals via path-prefix
    * explode (`core/directory_index.py` semantics, no recursion needed).
    */
  def directoryRollups(chunks: DataFrame): DataFrame = {
    val parts = split(col("file_path"), "/")
    val prefixes = transform(
      sequence(lit(1), size(parts) - 1),
      i => concat_ws("/", slice(parts, lit(1), i)))
    val exploded = chunks.withColumn("dir", explode(prefixes))
    val totals = exploded.groupBy(col("dir")).agg(
      countDistinct(col("file_path")).as("file_count"),
      count(lit(1)).as("total_chunks"))
    val langHist = exploded
      .groupBy(col("dir"), col("language")).agg(count(lit(1)).as("n"))
      .groupBy(col("dir"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("language"), col("n"))))).as("languages"))
    totals.join(langHist, Seq("dir"))
      .withColumn("depth", size(split(col("dir"), "/")))
  }

  /** A13 dead-code reachability: entry points → CALLS-closure → the rest
    * is dead, with confidence by entity kind
    * (`analysis/dead_code.py:108-500`). Pass the EntryPoints detector
    * output (`entry_points.py:66-530` fidelity — main blocks, CLI
    * commands, routes, tests, exports) to root the walk at real entry
    * points; the name/path heuristic below remains as a safety net.
    */
  def deadCode(kg: Kg.KgTables, entryPoints: Option[DataFrame] = None): DataFrame = {
    val heuristic = kg.vertices
      .filter(col("label").isin("function", "method", "class"))
      .filter(
        col("name").rlike("^(main|test_|Test)") ||
          col("name").isin("__init__", "__main__", "setup", "run") ||
          col("file_path").rlike("(^|/)tests?/"))
      .select("id")
    val entries = entryPoints.map { ep =>
      kg.vertices
        .filter(col("label").isin("function", "method", "class"))
        .join(ep.select(col("name"), col("file_path")).distinct(),
          Seq("name", "file_path"))
        .select("id")
        .unionByName(heuristic)
        .distinct()
    }.getOrElse(heuristic)
    val callEdges = kg.edges.filter(col("rel_type").isin("CALLS", "CONTAINS"))
    val reached = Kg.minDist(callEdges, entries, maxHops = 8).select("id")
    kg.vertices
      .filter(col("label").isin("function", "method", "class"))
      .join(reached, Seq("id"), "left_anti")
      .withColumn("confidence",
        when(col("label") === "method", 0.6).otherwise(0.8))
      .select("id", "name", "label", "file_path", "confidence")
  }

  /** S10/A18 contributor stats (`story/extractor.py:316-385`). */
  def contributorStats(commits: DataFrame): DataFrame =
    commits.groupBy(col("author"))
      .agg(
        count(lit(1)).as("n_commits"),
        sum(col("insertions")).as("insertions"),
        sum(col("deletions")).as("deletions"),
        min(col("ts")).as("first_commit"),
        max(col("ts")).as("last_commit"))

  /** A18 story phases: commits bucketed into `nPhases` equal-count
    * phases of the (ts, commit_hash) history order with per-phase stats
    * (`story/analyzer.py:417-594` semantics).
    *
    * The 1-based global position comes from the distributed two-pass
    * prefix sum over unit weights ([[graft.text.Sampling.globalRunningSum]]
    * — the nt1 pattern), NOT from a `Window.orderBy` ntile: an
    * unpartitioned window single-partitions the whole history through
    * one task, which a 100× monorepo history (tens of millions of
    * commits) cannot afford. The phase is then pure arithmetic on
    * (pos, N): `((pos-1)·nPhases) div N + 1` — equal-count buckets
    * differing by ≤1 commit (boundary placement can differ from SQL
    * ntile's front-loading by one row; the oracle mirrors this formula).
    */
  def storyPhases(commits: DataFrame, nPhases: Int = 5): DataFrame = {
    // unique tiebreak: same-second commits must tile deterministically
    val pos = graft.text.Sampling.globalRunningSum(
      commits.withColumn("one", lit(1)),
      Seq(col("ts").asc, col("commit_hash").asc), "one")
    val n = commits.agg(count(lit(1)).as("nn"))
    pos.crossJoin(broadcast(n))
      .withColumn("phase",
        expr(s"cast(((cum - 1) * $nPhases) div nn as int) + 1"))
      .groupBy("phase")
      .agg(
        min("ts").as("phase_start"),
        max("ts").as("phase_end"),
        count(lit(1)).as("n_commits"),
        countDistinct("author").as("n_authors"),
        sum("files_changed").as("files_changed"))
  }
}
