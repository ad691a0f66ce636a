package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audit.Audit
import graft.search.Bm25
import graft.tables.Tables
import graft.text.TextFunctions

/** Auditor data-plane pack (reference `auditor/`): claim routing +
  * batched evidence collection + evidence dedup in one oracle-gated
  * pipeline (au1), and certification drift classification (au2).
  *
  * au1's DuckDB mirror reproduces the whole pipeline: the strategy rule
  * table as VALUES, BM25 scoring per (claim, plan) over the same
  * tokenizer, per-plan ROW_NUMBER top-k, the noise-file regexes, exact
  * dedup, and the overlap dedup. The fixture's line ranges are bucketed
  * cliques (all ranges within a 100-line bucket pairwise overlap, none
  * across buckets), so the reference's greedy score-descending pass
  * reduces to keep-the-best-per-bucket — SQL-exact. The general
  * (non-clique) greedy semantics are spec'd in AuditSpec.
  */
object AuditPack {

  /** 6 known categories + 1 without a strategy file (fallback path). */
  val Categories: Seq[String] = Seq("data_sharing", "encryption",
    "logging_pii", "retention", "third_party", "user_rights",
    "custom_policy")

  /** Claim keyword sets from the corpus vocabulary: even claims get 2
    * keywords, odd claims 9 (exercises the first-8 interpolation cap and
    * the first-5 fallback cap).
    */
  val KwEven: Seq[String] = Seq("fast", "scan")
  val KwOdd: Seq[String] = Seq("merge", "batch", "join", "sort", "key",
    "row", "agg", "table", "value")

  private def tokenize(c: Column): Column =
    filter(TextFunctions.tokens(c), t => !t.rlike("^[0-9]+$"))

  private def tokenizeSql(e: String): String =
    s"list_filter(${TextFunctions.tokensSql(e)}, t -> NOT regexp_matches(t, '^[0-9]+$$'))"

  /** Claims fixture: 7 claims cycling through all categories. The
    * distinct runs on the narrow int key BEFORE the string/array
    * columns are derived — a distinct over derived array columns would
    * hash the arrays corpus-wide for the same 7 rows.
    */
  private def claims(s: SparkSession, d: String): DataFrame = {
    val cid = col("cid")
    Tables.documents(s, d)
      .select((col("doc_id") % 7).cast("int").as("cid")).distinct()
      .select(
        concat(lit("c"), cid).as("claim_id"),
        element_at(typedlit(Categories), cid + 1).as("category"),
        concat(lit("table merge policy data "), cid).as("normalized"),
        when(cid % 2 === 0, typedlit(KwEven)).otherwise(typedlit(KwOdd))
          .as("keywords"))
  }

  private val claimsSql = {
    val cats = Categories.map(c => s"'$c'").mkString("[", ", ", "]")
    val kwE = KwEven.map(k => s"'$k'").mkString("[", ", ", "]")
    val kwO = KwOdd.map(k => s"'$k'").mkString("[", ", ", "]")
    s"""SELECT DISTINCT 'c' || CAST(doc_id % 7 AS INTEGER) AS claim_id,
       |    ($cats)[CAST(doc_id % 7 AS INTEGER) + 1] AS category,
       |    'table merge policy data ' || CAST(doc_id % 7 AS INTEGER)
       |      AS normalized,
       |    CASE WHEN (doc_id % 7) % 2 = 0 THEN $kwE ELSE $kwO END
       |      AS keywords
       |  FROM documents""".stripMargin
  }

  /** Chunk metadata fixture: 1-in-10 ui-component and 1-in-10 test files
    * (noise), line ranges in 100-line buckets with jitter ≤ 16 and span
    * 20 so ranges overlap exactly within a bucket.
    */
  private def chunkMeta(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    Tables.documents(s, d).select(
      did.as("id"),
      when(did % 10 === 3, concat(lit("web/ui/w"), did % 9, lit(".tsx")))
        .when(did % 10 === 7, concat(lit("src/t"), did % 9, lit(".test.py")))
        .otherwise(concat(lit("src/f"), did % 40, lit(".py")))
        .as("file_path"),
      ((did % 3) * 100 + (did % 5) * 4).cast("int").as("start_line"),
      ((did % 3) * 100 + (did % 5) * 4 + 20).cast("int").as("end_line"),
      col("text").as("content"))
  }

  private val chunkMetaSql =
    """SELECT doc_id AS id,
      |    CASE WHEN doc_id % 10 = 3
      |        THEN 'web/ui/w' || (doc_id % 9) || '.tsx'
      |      WHEN doc_id % 10 = 7
      |        THEN 'src/t' || (doc_id % 9) || '.test.py'
      |      ELSE 'src/f' || (doc_id % 40) || '.py' END AS file_path,
      |    CAST((doc_id % 3) * 100 + (doc_id % 5) * 4 AS INTEGER)
      |      AS start_line,
      |    CAST((doc_id % 3) * 100 + (doc_id % 5) * 4 + 20 AS INTEGER)
      |      AS end_line,
      |    text AS content
      |  FROM documents""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Route → batch-score → per-plan top-5 → noise filter → dedup.
    "au1_claim_evidence" -> ((s, d) => {
      val plans = Audit.routeClaims(claims(s, d))
      val ev = Audit.collectEvidence(plans, SearchPack.bm25Index(s, d),
        chunkMeta(s, d), tokenize, k = 5)
      Audit.dedupEvidence(ev)
        .select(col("claim_id"), col("tool"), col("query"), col("id"),
          col("file_path"), col("start_line"), col("end_line"),
          length(col("snippet")).as("snippet_chars"),
          round(col("score"), 6).as("score"))
        .orderBy(col("claim_id"), col("file_path"), col("start_line"))
    }),

    // Certification drift classification over a two-run cert history.
    "au2_drift" -> ((s, d) => {
      val t = (col("doc_id") % 10).cast("int")
      val current = Tables.documents(s, d).select(
        concat(lit("t"), t).as("target"),
        concat(lit("p"), t % 4).as("policy_sha"),
        concat(lit("h"), t % 3).as("head_commit")).distinct()
      // older cert always matches; newest drifts for some targets — the
      // classifier must use ONLY the most recent cert. t0/t1 never
      // certified at all.
      val certs = Tables.documents(s, d)
        .select(t.as("k")).distinct().filter(col("k") >= 2)
        .select(
          concat(lit("t"), col("k")).as("target"),
          concat(lit("p"), col("k") % 4).as("policy_sha"),
          concat(lit("h"), col("k") % 3).as("head_commit"),
          lit(1L).as("cert_ts"))
        .unionByName(Tables.documents(s, d)
          .select(t.as("k")).distinct().filter(col("k") >= 2)
          .select(
            concat(lit("t"), col("k")).as("target"),
            concat(lit("p"), when(col("k").isin(3, 5), col("k") % 4 + 10)
              .otherwise(col("k") % 4)).as("policy_sha"),
            concat(lit("h"), when(col("k").isin(4, 5), col("k") % 3 + 10)
              .otherwise(col("k") % 3)).as("head_commit"),
            lit(2L).as("cert_ts")))
      Audit.drift(current, certs)
        .select(col("target"), col("policy_changed"), col("code_changed"),
          col("status"))
        .orderBy(col("target"))
    }))

  def oracles: Map[String, String] = Map(
    "au1_claim_evidence" -> {
      val stratVals = Audit.Strategies.map(q =>
        s"('${q.category}', ${q.seq}, '${q.tool}', '${q.query}', ${q.weight})")
        .mkString(",\n|    ")
      val tmplVals = Audit.KeywordTemplates.map { case (c, t) =>
        s"('$c', '$t')"
      }.mkString(", ")
      val bm25Prefix = {
        val base = Bm25.scoreSqlCtes("documents", "doc_id",
          SearchPack.docTokensSql, Seq("x"))
        base.substring(0, base.indexOf("q(term, qtf) AS"))
      }
      val noise = Audit.isNoiseFileSql("m.file_path")
      s"""WITH ${bm25Prefix}claims AS ($claimsSql),
         |strat(category, seq, tool, query, weight) AS (VALUES
         |    $stratVals),
         |tmpl(category, template) AS (VALUES $tmplVals),
         |known AS (SELECT c.claim_id, s.tool, s.query, s.weight, s.seq
         |  FROM claims c JOIN strat s USING (category)),
         |kw AS (SELECT c.claim_id, 'search_hybrid' AS tool,
         |    replace(t.template, '{keywords}',
         |      array_to_string(c.keywords[1:8], ' ')) AS query,
         |    ${Audit.KeywordWeight} AS weight, 100 AS seq
         |  FROM claims c JOIN tmpl t USING (category)
         |  WHERE len(c.keywords) > 0),
         |fallback AS (
         |  SELECT claim_id, 'search_hybrid' AS tool, normalized AS query,
         |    ${Audit.FallbackWeights._1} AS weight, 0 AS seq
         |  FROM claims WHERE category NOT IN (SELECT category FROM strat)
         |  UNION ALL
         |  SELECT claim_id, 'search_code',
         |    CASE WHEN len(keywords) > 0
         |      THEN array_to_string(keywords[1:5], ' ')
         |      ELSE normalized END,
         |    ${Audit.FallbackWeights._2}, 1
         |  FROM claims WHERE category NOT IN (SELECT category FROM strat)),
         |plans AS (SELECT claim_id, tool, query,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY claim_id
         |      ORDER BY weight DESC, seq) AS INTEGER) AS plan_rank
         |  FROM (SELECT * FROM known UNION ALL SELECT * FROM kw
         |    UNION ALL SELECT * FROM fallback)),
         |qt AS (SELECT claim_id, plan_rank, tool, query, term,
         |    COUNT(*) AS qtf
         |  FROM (SELECT *, unnest(${tokenizeSql("query")}) AS term
         |    FROM plans)
         |  GROUP BY claim_id, plan_rank, tool, query, term),
         |sc AS (SELECT q.claim_id, q.plan_rank, q.tool, q.query, p.id,
         |    SUM(q.qtf * idf.idf * (p.tf * (${Bm25.K1} + 1)) /
         |        (p.tf + ${Bm25.K1} * (1 - ${Bm25.B} + ${Bm25.B} * ds.dl / c.avgdl))) AS score
         |  FROM postings p
         |  JOIN qt q ON q.term = p.term
         |  JOIN idf ON idf.term = p.term
         |  JOIN doc_stats ds ON ds.id = p.id
         |  CROSS JOIN corpus c
         |  GROUP BY q.claim_id, q.plan_rank, q.tool, q.query, p.id),
         |topk AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY claim_id, plan_rank
         |      ORDER BY score DESC, id) AS rk FROM sc) WHERE rk <= 5),
         |meta AS ($chunkMetaSql),
         |ev AS (SELECT t.claim_id, t.plan_rank, t.tool, t.query, t.id,
         |    m.file_path, m.start_line, m.end_line,
         |    substr(m.content, 1, 2000) AS snippet, t.score
         |  FROM topk t JOIN meta m ON m.id = t.id
         |  WHERE NOT $noise),
         |ex AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY claim_id, file_path,
         |        start_line, end_line
         |      ORDER BY score DESC, tool, plan_rank, id) AS xr FROM ev)
         |  WHERE xr = 1),
         |kp AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY claim_id, file_path,
         |        start_line // 100
         |      ORDER BY score DESC, start_line, end_line, tool, id) AS kr
         |    FROM ex) WHERE kr = 1)
         |SELECT claim_id, tool, query, id, file_path, start_line, end_line,
         |  CAST(len(snippet) AS INTEGER) AS snippet_chars,
         |  round(score, 6) AS score
         |FROM kp ORDER BY claim_id, file_path, start_line""".stripMargin
    },

    "au2_drift" ->
      """WITH ks AS (SELECT DISTINCT CAST(doc_id % 10 AS INTEGER) AS k
        |  FROM documents),
        |cur AS (SELECT 't' || k AS target, 'p' || (k % 4) AS policy_sha,
        |    'h' || (k % 3) AS head_commit FROM ks),
        |certs AS (
        |  SELECT 't' || k AS target, 'p' || (k % 4) AS policy_sha,
        |    'h' || (k % 3) AS head_commit, 1 AS cert_ts
        |  FROM ks WHERE k >= 2
        |  UNION ALL
        |  SELECT 't' || k,
        |    'p' || (CASE WHEN k IN (3, 5) THEN k % 4 + 10 ELSE k % 4 END),
        |    'h' || (CASE WHEN k IN (4, 5) THEN k % 3 + 10 ELSE k % 3 END),
        |    2
        |  FROM ks WHERE k >= 2),
        |latest AS (SELECT target,
        |    arg_max(policy_sha, cert_ts) AS cert_policy_sha,
        |    arg_max(head_commit, cert_ts) AS cert_head_commit
        |  FROM certs GROUP BY target),
        |j AS (SELECT c.target,
        |    l.cert_policy_sha IS NOT NULL
        |      AND c.policy_sha <> l.cert_policy_sha AS policy_changed,
        |    l.cert_head_commit IS NOT NULL
        |      AND c.head_commit <> l.cert_head_commit AS code_changed,
        |    l.cert_policy_sha, l.cert_head_commit
        |  FROM cur c LEFT JOIN latest l USING (target))
        |SELECT target, policy_changed, code_changed,
        |  CASE WHEN cert_policy_sha IS NULL THEN 'never_certified'
        |    WHEN policy_changed AND code_changed THEN 'both_drifted'
        |    WHEN policy_changed THEN 'policy_drifted'
        |    WHEN code_changed THEN 'code_drifted'
        |    ELSE 'certified' END AS status
        |FROM j ORDER BY target""".stripMargin)
}
