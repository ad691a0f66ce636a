package graft.search

/** Driver-side query preparation: queries are scalar strings, so these are
  * plain Scala functions (the distributed plan starts after them).
  *
  * Semantics re-expressed from the reference:
  *  - preprocess: whitespace normalize + inline abbreviation expansion,
  *    order-preserving dedup (`core/query_processor.py:78-110`);
  *  - adaptive threshold heuristics (`query_processor.py:112-183`);
  *  - identifier-query detection lowering hybrid alpha toward keyword
  *    search (`query_processor.py:5-27`, applied `search.py:250-263`);
  *  - synonym expansion, one substitution per variant, bidirectional
  *    (`core/query_expander.py:117-185`).
  */
object QueryProcessor {

  val Abbreviations: Map[String, String] = Map(
    "auth" -> "authentication", "config" -> "configuration",
    "db" -> "database", "impl" -> "implementation", "init" -> "initialize",
    "param" -> "parameter", "repo" -> "repository", "util" -> "utility",
    "func" -> "function", "async" -> "asynchronous", "sync" -> "synchronize",
    "env" -> "environment", "dir" -> "directory", "doc" -> "documentation",
    "spec" -> "specification", "arg" -> "argument", "cmd" -> "command",
    "ctx" -> "context", "def" -> "definition", "err" -> "error")

  val SynonymGroups: Seq[Set[String]] = Seq(
    Set("delete", "remove", "drop"), Set("create", "add", "insert"),
    Set("update", "modify", "change"), Set("fetch", "get", "retrieve"),
    Set("search", "find", "query", "lookup"), Set("parse", "tokenize"),
    Set("error", "exception", "failure"), Set("test", "spec", "check"),
    Set("fast", "quick", "rapid"), Set("table", "relation"),
    Set("index", "catalog"), Set("merge", "join", "combine"))

  private val TechnicalTerms = Set(
    "api", "sql", "http", "json", "regex", "cache", "thread", "socket",
    "index", "schema", "shard", "partition", "vector", "embedding")

  /** Whitespace-normalize, expand known abbreviations in place, dedup
    * tokens preserving first occurrence.
    */
  def preprocess(query: String): String = {
    val toks = query.trim.split("\\s+").filter(_.nonEmpty)
    val expanded = toks.map(t => Abbreviations.getOrElse(t.toLowerCase, t))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    expanded.foreach(seen += _)
    seen.mkString(" ")
  }

  /** Column-level [[preprocess]] for content-as-query flows (Q16
    * search_similar runs every SEED DOCUMENT's text through query
    * preprocessing before re-embedding): same whitespace split,
    * lowercase abbreviation lookup keeping the original token on a
    * miss, and first-occurrence case-sensitive dedup (Spark's
    * `array_distinct` preserves first-occurrence order). Pure builtin
    * functions — stays inside codegen, no UDF.
    */
  def preprocessCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val toks = filter(split(trim(text), "\\s+"), t => t =!= "")
    val expanded = transform(toks, t =>
      Abbreviations.foldLeft(t) { case (acc, (k, v)) =>
        when(lower(t) === k, v).otherwise(acc)
      })
    array_join(array_distinct(expanded), " ")
  }

  /** Adaptive similarity threshold. Heuristics (mirroring the reference's
    * direction and magnitudes): single word −0.29; technical term −0.29;
    * ≤3 words −0.1; >6 words +0.1; camelCase/snake_case −0.25; code
    * punctuation −0.1. Clamped to [0.05, 0.95].
    */
  def adaptiveThreshold(query: String, base: Double = 0.5): Double = {
    val words = query.trim.split("\\s+").filter(_.nonEmpty)
    var t = base
    if (words.length == 1) t -= 0.29
    if (words.exists(w => TechnicalTerms.contains(w.toLowerCase))) t -= 0.29
    if (words.length <= 3 && words.length > 1) t -= 0.1
    if (words.length > 6) t += 0.1
    if (words.exists(w => w.matches(".*[a-z][A-Z].*") || w.contains("_"))) t -= 0.25
    if (query.exists("(){}[];:.".contains(_))) t -= 0.1
    math.max(0.05, math.min(0.95, t))
  }

  /** Identifier-shaped query (dotted / camelCase / snake_case / scoped /
    * multi-hyphen) → favor keyword search (reference lowers alpha
    * 0.7 → 0.2). snake_case is one token with an inner underscore, so
    * `parse_file` is an identifier and `parse file` is not.
    */
  def isIdentifierQuery(query: String): Boolean = {
    val q = query.trim
    q.matches("""[\w.]+\.[\w.]+""") ||
      q.matches(""".*[a-z][A-Z].*""") ||
      q.matches("""\w+_\w+""") ||
      q.matches("""\w+::\w+.*""") ||
      q.count(_ == '-') >= 2
  }

  def hybridAlpha(query: String, default: Double = 0.7): Double =
    if (isIdentifierQuery(query)) 0.2 else default

  /** Query expansion: original first, then one variant per (token,
    * synonym) substitution, order-preserving, capped.
    */
  def expand(query: String, maxVariants: Int = 5): Seq[String] = {
    val toks = query.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val variants = scala.collection.mutable.LinkedHashSet[String](query)
    for {
      (tok, i) <- toks.zipWithIndex
      group <- SynonymGroups.filter(_.contains(tok.toLowerCase))
      syn <- group.toSeq.sorted if syn != tok.toLowerCase
    } variants += toks.updated(i, syn).mkString(" ")
    variants.take(maxVariants + 1).toSeq
  }
}
