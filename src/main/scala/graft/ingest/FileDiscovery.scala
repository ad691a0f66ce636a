package graft.ingest

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FileRecord

/** File-discovery scan (SURVEY §2.1 S1/S2, §2.2 P9).
  *
  * Reference behavior re-expressed (`core/file_discovery.py:19-583`):
  * recursive walk, then `should_ignore_path`'s layered predicate
  * (`:448-550`) in its order —
  *
  *  1. the ~71 DEFAULT_IGNORE_PATTERNS (`config/defaults.py:356-451`)
  *     matched per PATH COMPONENT (fnmatch against each part,
  *     `:493-497`; note `public/build` can never match a single part —
  *     inert in the reference too, kept for list fidelity);
  *  2. the dotfile filter with the ALLOWED_DOTFILES whitelist
  *     (`config/defaults.py:6-10`; dead under default config since
  *     pattern `.*` already catches every dot component in layer 1, but
  *     live when a user overrides the pattern set);
  *  3. the .gitignore rule cascade ([[GitignoreRules]]);
  *
  * plus the 10 MB size cap (`:344-350`), extension→language map, and
  * sha256 content hash for change detection (`chunks_backend.py:35-48`).
  *
  * Spark-first: `binaryFile` source with recursive lookup gives a
  * distributed scan whose predicates are codegen'd Column filters over
  * the ROOT-RELATIVE path (the reference matches relative paths too),
  * so a 100 TB repo tree lists and hashes in parallel — no driver-side
  * os.walk, and the tiny rule/pattern tables compile into the plan
  * instead of joining.
  */
object FileDiscovery {

  /** The reference's full DEFAULT_IGNORE_PATTERNS list, same order
    * (`config/defaults.py:356-451`). Matched per path component.
    */
  val DefaultIgnorePatterns: Seq[String] = Seq(
    ".*",
    // version control
    ".git", ".hg", ".svn",
    // python caches and environments
    "__pycache__", ".hypothesis", ".mypy_cache", ".nox", ".pytest_cache",
    ".ruff_cache", ".tox", ".venv", "venv",
    // javascript/node
    ".npm", ".nyc_output", ".yarn", ".pnpm", "bower_components",
    "coverage", "node_modules",
    // test fixtures and data
    "fixtures", "__fixtures__", "__snapshots__", "__mocks__",
    // lock files
    "package-lock.json", "yarn.lock", "pnpm-lock.yaml", "poetry.lock",
    "Gemfile.lock", "Cargo.lock", "composer.lock",
    // nifi workflow data
    "*.nifi",
    // build outputs
    "_build", "build", "dist", "htmlcov", "site", "target", "wheels",
    "out", ".next", ".nuxt", ".output", "public/build", "storybook-static",
    // generic caches
    ".cache",
    // ides and editors
    ".idea", ".vscode",
    // environment and config
    ".env",
    // build artifacts and packages
    "*.egg-info", "vendor",
    // os files
    ".DS_Store", "Thumbs.db",
    // tool-specific directories
    ".claude-mpm", ".mcp-vector-search",
    // minified and bundled files
    "*.min.js", "*.min.css", "*.min.mjs", "*.bundle.js", "*.bundle.css",
    "*.chunk.js", "*.chunk.css", "*.iframe.bundle.js", "*.manager.bundle.js",
    // vendor bundles
    "vendor.js", "vendors.js", "vendor-*.js", "vendors-*.js",
    // source maps
    "*.map", "*.js.map", "*.css.map")

  /** Dot components allowed through the dotfile filter
    * (`config/defaults.py:6-10`).
    */
  val AllowedDotfiles: Set[String] = Set(".github", ".gitlab-ci", ".circleci")

  /** One anchored regex OR-ing a pattern set, applied per path
    * component — the same bucketed-fnmatch semantics as the reference's
    * `_matches_compiled_patterns` (`file_discovery.py:126-158`), but as
    * a single automaton the regex engine runs once per part. Scales to
    * the reference's 847-pattern vendor scenario
    * (`benchmarks/benchmark_vendor_patterns.py`) without the per-pattern
    * loop its bucketing optimizes.
    */
  def componentIgnoreRx(patterns: Seq[String]): String =
    patterns.map(GitignoreRules.globRx).mkString("^(?:", "|", ")$")

  val ComponentIgnoreRx: String = componentIgnoreRx(DefaultIgnorePatterns)

  /** Layer 1: any path component matches any pattern. */
  def defaultIgnoreCol(relPath: Column,
      rx: String = ComponentIgnoreRx): Column =
    exists(split(relPath, "/"), p => p.rlike(rx))

  /** The force-include glob of `_matches_glob_pattern`
    * (`file_discovery.py:392-446`): gitignore-style suffix fnmatch, plus
    * — for `**` patterns — a PROPERLY escaped regex where `**\/` matches
    * zero-or-more leading dirs (unlike the gitignore matcher's raw one).
    */
  private def forceGlobCols(relPath: Column, pattern: String): Column = {
    val suffix = relPath.rlike(s"^(.*/)?${GitignoreRules.globRx(pattern)}$$")
    if (!pattern.contains("**")) suffix
    else {
      val esc = pattern.flatMap {
        case c if c.isLetterOrDigit || c == '_' || c == '/' => c.toString
        case c => "\\" + c
      }
      val rx = esc.replace("\\*\\*/", "(.*/)?").replace("/\\*\\*", "/.*")
        .replace("\\*\\*", ".*").replace("\\*", "[^/]*").replace("\\?", "[^/]")
      suffix || relPath.rlike(s"^$rx$$")
    }
  }

  /** The reference's full `should_ignore_path` layering
    * (`file_discovery.py:448-550`): force_include_patterns override
    * everything; default patterns block force_include_paths; the path
    * whitelist overrides dotfiles and gitignore only.
    */
  def shouldIgnoreCol(relPath: Column, rules: Seq[GitignoreRules.Rule],
      forceIncludePatterns: Seq[String] = Seq.empty,
      forceIncludePaths: Seq[String] = Seq.empty,
      ignoreRx: String = ComponentIgnoreRx): Column = {
    val forcePattern = forceIncludePatterns
      .map(forceGlobCols(relPath, _))
      .foldLeft(lit(false))(_ || _)
    val forcePath = forceIncludePaths.map(_.stripSuffix("/"))
      .map(ip => relPath === ip || relPath.startsWith(ip + "/"))
      .foldLeft(lit(false))(_ || _)
    val gitignore =
      if (rules.isEmpty) lit(false)
      else GitignoreRules.ignoredWalkCol(relPath, rules)
    when(forcePattern, lit(false))
      .when(defaultIgnoreCol(relPath, ignoreRx), lit(true))
      .when(forcePath, lit(false))
      .when(dotfileIgnoreCol(relPath), lit(true))
      .otherwise(gitignore)
  }

  /** Layer 3: any dot component outside the whitelist
    * (`file_discovery.py:524-532`).
    */
  def dotfileIgnoreCol(relPath: Column): Column =
    exists(split(relPath, "/"),
      p => p.startsWith(".") && !p.isin(AllowedDotfiles.toSeq: _*))

  /** Reference 10 MB cap (`file_discovery.py:344-350`). */
  val MaxFileBytes: Long = 10L * 1024 * 1024

  /** Extension → language: every extension of the reference's
    * LANGUAGE_MAPPINGS (`config/defaults.py:114-210`), keyed without the
    * dot and matched case-insensitively (discover lowercases), with this
    * engine's language names where the chunker dispatches on them
    * (csharp, shell — the reference spells them c_sharp, bash).
    */
  val LanguageByExtension: Map[String, String] = Map(
    // python / javascript / typescript
    "py" -> "python", "pyw" -> "python", "pyi" -> "python",
    "js" -> "javascript", "jsx" -> "javascript", "mjs" -> "javascript",
    "cjs" -> "javascript",
    "ts" -> "typescript", "tsx" -> "typescript", "mts" -> "typescript",
    "cts" -> "typescript",
    // web
    "html" -> "html", "htm" -> "html", "css" -> "css", "scss" -> "scss",
    "sass" -> "sass", "less" -> "less",
    // data / config
    "json" -> "json", "yaml" -> "yaml", "yml" -> "yaml", "toml" -> "toml",
    "xml" -> "xml", "arb" -> "json",
    // documentation
    "md" -> "markdown", "markdown" -> "markdown", "rst" -> "rst",
    "txt" -> "text",
    // shell
    "sh" -> "shell", "bash" -> "shell", "zsh" -> "shell", "fish" -> "fish",
    // jvm
    "java" -> "java", "kt" -> "kotlin", "scala" -> "scala",
    "groovy" -> "groovy",
    // c / c++ / c#
    "c" -> "c", "h" -> "c", "cpp" -> "cpp", "cc" -> "cpp", "cxx" -> "cpp",
    "hpp" -> "cpp", "hxx" -> "cpp", "cs" -> "csharp",
    // go / rust / ruby / php / swift / dart
    "go" -> "go", "rs" -> "rust", "rb" -> "ruby", "rake" -> "ruby",
    "gemspec" -> "ruby", "php" -> "php", "phtml" -> "php",
    "swift" -> "swift", "dart" -> "dart",
    // r / sql / lua / perl / elixir / clojure / haskell / ocaml / editors
    "r" -> "r", "sql" -> "sql", "lua" -> "lua", "pl" -> "perl",
    "pm" -> "perl", "ex" -> "elixir", "exs" -> "elixir",
    "clj" -> "clojure", "cljs" -> "clojure", "cljc" -> "clojure",
    "hs" -> "haskell", "ml" -> "ocaml", "mli" -> "ocaml",
    "vim" -> "vim", "el" -> "elisp",
    // subproject markers the monorepo detector needs in the listing
    "mod" -> "text", "sbt" -> "scala")

  /** Discover indexable files under `root` as a Dataset[FileRecord].
    *
    * `respectGitignore` mirrors the reference's root-.gitignore load
    * (`config.respect_gitignore`); `nestedGitignore` additionally honors
    * nested .gitignore files with git's deeper-file-wins precedence (our
    * generalization — the reference intentionally loads root only,
    * `utils/gitignore.py:115-128`).
    */
  def discover(spark: SparkSession, root: String,
      respectGitignore: Boolean = true,
      nestedGitignore: Boolean = false,
      forceIncludePatterns: Seq[String] = Seq.empty,
      forceIncludePaths: Seq[String] = Seq.empty,
      extraIgnorePatterns: Seq[String] = Seq.empty): Dataset[FileRecord] = {
    import spark.implicits._
    val absRoot = new java.io.File(root).getAbsolutePath.stripSuffix("/")
    val rules =
      if (!respectGitignore) Seq.empty[GitignoreRules.Rule]
      else if (nestedGitignore) GitignoreRules.loadNested(absRoot)
      else GitignoreRules.loadRoot(absRoot)
    val langMap = typedLit(LanguageByExtension)
    val ignoreRx =
      if (extraIgnorePatterns.isEmpty) ComponentIgnoreRx
      else componentIgnoreRx(DefaultIgnorePatterns ++ extraIgnorePatterns)
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .withColumn("file_path", regexp_replace(col("path"), "^file:", ""))
      .withColumn("rel_path", regexp_replace(col("file_path"),
        "^" + java.util.regex.Pattern.quote(absRoot + "/"), ""))
      .filter(!shouldIgnoreCol(col("rel_path"), rules,
        forceIncludePatterns, forceIncludePaths, ignoreRx))
      .filter(col("length") <= MaxFileBytes)
      .withColumn("ext", lower(regexp_extract(col("file_path"), "\\.([A-Za-z0-9]+)$", 1)))
      .withColumn("language", langMap(col("ext")))
      .filter(col("language").isNotNull)
      .select(
        col("file_path"),
        col("language"),
        sha2(col("content"), 256).as("file_hash"),
        col("modificationTime").as("mtime"),
        col("length").as("size_bytes"),
        decode(col("content"), "UTF-8").as("content"))
      .as[FileRecord]
  }

  /** Distributed read of named files (a change set's touched paths):
    * one `binaryFile` scan over the (metadata-scale) path list instead
    * of a serial driver-side `Files.readAllBytes` loop. Paths are mapped
    * back to their ORIGINAL strings (the scan returns absolutized file:
    * URIs) so downstream joins on file_path still match the stored
    * tables.
    */
  def readFiles(spark: SparkSession, paths: Seq[String]): Dataset[FileRecord] = {
    import spark.implicits._
    if (paths.isEmpty) spark.emptyDataset[FileRecord]
    else {
      val byAbs = paths.map(p =>
        new java.io.File(p).getAbsolutePath -> p).toMap
      spark.read.format("binaryFile").load(paths: _*)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (uri, bytes) =>
          val abs = new java.net.URI(uri).getPath
          val p = byAbs.getOrElse(abs, abs)
          val content = new String(bytes, "UTF-8")
          val ext = p.replaceAll(""".*\.""", "").toLowerCase
          FileRecord(p, LanguageByExtension.getOrElse(ext, "text"),
            graft.chunk.Chunker.sha256Hex(content),
            new java.sql.Timestamp(System.currentTimeMillis()),
            content.length.toLong, content)
        }
    }
  }
}
