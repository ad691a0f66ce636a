package graft.ingest

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GitHub issues / pull-requests story source
  * (`story/extractor.py:452-610`): the reference shells out to the gh
  * CLI and parses its `--json` output. Here the gh-shaped JSON document
  * (one array of objects per call) is a column parsed with an explicit
  * schema — the sandbox has no gh binary, so ingestion starts from the
  * JSON text a runner captured, and everything downstream is relational.
  *
  * Timeline semantics mirror `story/__init__.py:120-204`: top-10 commits
  * by files_changed (importance = min(files/20, 1)), issue opened
  * (0.6) / closed (0.5) events for the 10 newest issues, PR merged
  * events (importance = min(files_changed/15, 1)), all sorted by date.
  */
object GhStory {

  /** gh issue list --json number,title,state,labels,createdAt,closedAt,body */
  val IssueSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("number", IntegerType),
    StructField("title", StringType),
    StructField("state", StringType),
    StructField("labels", ArrayType(StructType(Seq(
      StructField("name", StringType))))),
    StructField("createdAt", StringType),
    StructField("closedAt", StringType),
    StructField("body", StringType))))

  /** gh pr list --json number,title,state,mergedAt,additions,deletions,labels */
  val PrSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("number", IntegerType),
    StructField("title", StringType),
    StructField("state", StringType),
    StructField("mergedAt", StringType),
    StructField("additions", LongType),
    StructField("deletions", LongType),
    StructField("labels", ArrayType(StructType(Seq(
      StructField("name", StringType))))))))

  private def isoTs(c: Column): Column =
    to_timestamp(regexp_replace(c, "Z$", "+00:00"))

  /** One gh-issues JSON document per input row → one row per issue.
    * Defaults mirror the reference models: state "open", empty label
    * list, empty body (`story/models.py:65-74`).
    */
  def parseIssues(raw: DataFrame, jsonCol: String): DataFrame =
    raw
      .select(explode(from_json(col(jsonCol), IssueSchema)).as("i"))
      .select(
        col("i.number").as("number"),
        col("i.title").as("title"),
        coalesce(col("i.state"), lit("open")).as("state"),
        coalesce(transform(col("i.labels"), l => coalesce(l.getField("name"),
          lit(""))), array().cast("array<string>")).as("labels"),
        isoTs(col("i.createdAt")).as("created_at"),
        isoTs(col("i.closedAt")).as("closed_at"),
        coalesce(col("i.body"), lit("")).as("body"))

  /** One gh-prs JSON document per input row → one row per PR.
    * files_changed is 0: the gh list API doesn't return it
    * (`extractor.py:589-599`).
    */
  def parsePullRequests(raw: DataFrame, jsonCol: String): DataFrame =
    raw
      .select(explode(from_json(col(jsonCol), PrSchema)).as("p"))
      .select(
        col("p.number").as("number"),
        col("p.title").as("title"),
        coalesce(col("p.state"), lit("open")).as("state"),
        isoTs(col("p.mergedAt")).as("merged_at"),
        lit(0).as("files_changed"),
        coalesce(col("p.additions"), lit(0L)).as("additions"),
        coalesce(col("p.deletions"), lit(0L)).as("deletions"),
        coalesce(transform(col("p.labels"), l => coalesce(l.getField("name"),
          lit(""))), array().cast("array<string>")).as("labels"))

  /** Issue rollup joined into story analytics: per-state counts, labeled
    * share, days-to-close stats.
    */
  def issueStats(issues: DataFrame): DataFrame =
    issues.groupBy(col("state"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(size(col("labels")) > 0, 1L).otherwise(0L))
          .as("n_with_labels"),
        avg(datediff(to_date(col("closed_at")), to_date(col("created_at"))))
          .as("avg_days_open"),
        min(col("number")).as("min_number"),
        max(col("number")).as("max_number"))

  /** The merged timeline (`story/__init__.py:120-204`). Event order
    * inside each source follows the reference: commits by files_changed
    * desc, issues newest-first (gh list order), PRs newest-first.
    */
  def timeline(commits: DataFrame, issues: DataFrame,
      prs: DataFrame): DataFrame = {
    val topCommits = commits
      .orderBy(col("files_changed").desc, col("commit_hash"))
      .limit(10)
      .select(
        col("ts").as("date"),
        lit("commit").as("event_type"),
        substring(coalesce(col("commit_hash")), 0, 60).as("title"),
        concat(col("files_changed"), lit(" files changed by "), col("author"))
          .as("description"),
        least(col("files_changed") / 20.0, lit(1.0)).as("importance"))
    val newestIssues = issues
      .orderBy(col("number").desc).limit(10)
    val issueOpened = newestIssues
      .filter(col("created_at").isNotNull)
      .select(
        col("created_at").as("date"),
        lit("issue").as("event_type"),
        concat(lit("Issue #"), col("number"), lit(": "), col("title"))
          .as("title"),
        concat(lit("Opened - "),
          when(size(col("labels")) > 0, array_join(col("labels"), ", "))
            .otherwise("no labels")).as("description"),
        lit(0.6).as("importance"))
    val issueClosed = newestIssues
      .filter(col("closed_at").isNotNull)
      .select(
        col("closed_at").as("date"),
        lit("issue").as("event_type"),
        concat(lit("Issue #"), col("number"), lit(" closed")).as("title"),
        col("title").as("description"),
        lit(0.5).as("importance"))
    val prMerged = prs
      .orderBy(col("number").desc).limit(10)
      .filter(col("merged_at").isNotNull)
      .select(
        col("merged_at").as("date"),
        lit("pr").as("event_type"),
        concat(lit("PR #"), col("number"), lit(": "), col("title")).as("title"),
        concat(col("files_changed"), lit(" files, +"), col("additions"),
          lit("/-"), col("deletions")).as("description"),
        least(col("files_changed") / 15.0, lit(1.0)).as("importance"))
    topCommits.unionByName(issueOpened).unionByName(issueClosed)
      .unionByName(prMerged)
      .orderBy(col("date"), col("event_type"), col("title"))
  }
}
