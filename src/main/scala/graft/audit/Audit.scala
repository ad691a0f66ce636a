package graft.audit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.search.Bm25

/** Policy-auditor data plane (reference `auditor/`): claim routing,
  * batched evidence collection, evidence dedup, and certification drift.
  *
  * The reference's auditor wraps an LLM loop (policy_extractor → judge),
  * which is model-bound like the cross-encoder (Q10) — the seam here is
  * the same: everything up to and after the LLM call is data-plane and
  * distributed, the verdict itself is pluggable.
  *
  * Scale stance: the reference routes ONE claim at a time and runs each
  * QueryPlan as a separate engine call (`evidence_collector.py:408`,
  * one `await` per plan). At 100 TB with thousands of claims that is
  * thousands of sequential scans; here the whole claim set is routed and
  * scored in ONE plan — strategies are a broadcast rule table, scoring is
  * a single postings join grouped by (claim, plan), and every top-k is a
  * window PARTITIONED by plan (never global).
  */
object Audit {

  /** One strategy query row (the YAML files under `auditor/strategies/`):
    * seq preserves YAML file order, which Python's stable sort keeps for
    * equal weights (`claim_router.py:146-149`).
    */
  final case class StrategyQuery(category: String, seq: Int, tool: String,
      query: String, weight: Double)

  /** The six shipped strategy files, verbatim (`auditor/strategies/`). */
  val Strategies: Seq[StrategyQuery] = Seq(
    StrategyQuery("data_sharing", 0, "search_hybrid", "third party SDK send data external API", 1.0),
    StrategyQuery("data_sharing", 1, "search_code", "requests.post fetch axios http.post", 0.9),
    StrategyQuery("data_sharing", 2, "kg_query", "outgoing HTTP calls external endpoints", 0.8),
    StrategyQuery("data_sharing", 3, "search_hybrid", "data transfer upload telemetry analytics", 0.7),
    StrategyQuery("data_sharing", 4, "search_code", "urllib.request httpx.post aiohttp.post", 0.7),
    StrategyQuery("encryption", 0, "search_code", "AES encrypt decrypt TLS SSL bcrypt argon2 cryptography", 1.0),
    StrategyQuery("encryption", 1, "find_smells", "crypto weak encryption plaintext password", 0.9),
    StrategyQuery("encryption", 2, "kg_query", "encryption key management cipher", 0.8),
    StrategyQuery("encryption", 3, "search_hybrid", "HTTPS certificate verify TLS configuration", 0.8),
    StrategyQuery("encryption", 4, "search_code", "hashlib hmac fernet nacl pycryptodome", 0.7),
    StrategyQuery("encryption", 5, "search_hybrid", "at rest encryption database field encrypt", 0.7),
    StrategyQuery("logging_pii", 0, "search_hybrid", "log PII redact mask scrub personally identifiable", 1.0),
    StrategyQuery("logging_pii", 1, "find_smells", "logging sensitive data password email phone", 0.9),
    StrategyQuery("logging_pii", 2, "search_code", "logger.info logger.debug logger.warning print email password", 0.8),
    StrategyQuery("logging_pii", 3, "search_hybrid", "structured logging sanitize filter sensitive fields", 0.7),
    StrategyQuery("logging_pii", 4, "search_code", "log_filter redact_fields mask_pii scrub_sensitive", 0.8),
    StrategyQuery("logging_pii", 5, "search_hybrid", "audit trail access log user activity", 0.6),
    StrategyQuery("retention", 0, "search_hybrid", "delete purge TTL expire retention period", 1.0),
    StrategyQuery("retention", 1, "search_code", "DELETE FROM DROP TABLE truncate cleanup expire", 0.9),
    StrategyQuery("retention", 2, "kg_query", "data deletion purge schedule", 0.8),
    StrategyQuery("retention", 3, "search_hybrid", "data lifecycle expiration scheduled cleanup job", 0.7),
    StrategyQuery("retention", 4, "kg_callers_at_commit", "delete_user remove_data purge_records", 0.8),
    StrategyQuery("retention", 5, "search_code", "max_age expires_in ttl retention_days", 0.7),
    StrategyQuery("third_party", 0, "search_code", "analytics segment amplitude mixpanel google_analytics", 1.0),
    StrategyQuery("third_party", 1, "search_hybrid", "third party vendor SDK integration analytics tracking", 0.9),
    StrategyQuery("third_party", 2, "search_code", "import stripe twilio sendgrid datadog sentry", 0.8),
    StrategyQuery("third_party", 3, "kg_query", "external service integration vendor dependency", 0.8),
    StrategyQuery("third_party", 4, "search_hybrid", "advertising pixel tracking script embed", 0.7),
    StrategyQuery("third_party", 5, "search_code", "facebook twitter linkedin oauth social", 0.6),
    StrategyQuery("user_rights", 0, "search_hybrid", "GDPR CCPA DSAR user rights data export portability", 1.0),
    StrategyQuery("user_rights", 1, "kg_query", "user export endpoint data access request", 0.9),
    StrategyQuery("user_rights", 2, "search_code", "right_to_erasure right_to_access data_export gdpr", 0.9),
    StrategyQuery("user_rights", 3, "search_hybrid", "delete account user data request download", 0.8),
    StrategyQuery("user_rights", 4, "search_code", "users export download privacy request erasure", 0.7),
    StrategyQuery("user_rights", 5, "search_hybrid", "consent withdrawal opt out unsubscribe", 0.6))

  /** keyword_interpolation templates (all six strategies enable it). */
  val KeywordTemplates: Seq[(String, String)] = Seq(
    "data_sharing" -> "{keywords} data transfer external service",
    "encryption" -> "{keywords} encrypt implementation",
    "logging_pii" -> "{keywords} log sensitive data",
    "retention" -> "{keywords} delete expire retention",
    "third_party" -> "{keywords} third party integration vendor",
    "user_rights" -> "{keywords} user rights request")

  /** Weight of the keyword-interpolated plan (`claim_router.py:137`). */
  val KeywordWeight = 0.5
  /** Synthetic weights giving the generic fallback its reference order
    * (hybrid before code, `claim_router.py:100-115`).
    */
  val FallbackWeights: (Double, Double) = (1.0, 0.9)

  /** Route claims (claim_id, category, normalized, keywords) to ranked
    * QueryPlans (`claim_router.py:80-149`): strategy-table join for known
    * categories, a keyword-interpolated search_hybrid plan at weight 0.5
    * when the claim has keywords (first 8, space-joined), and the generic
    * two-plan fallback for categories without a strategy file. plan_rank
    * orders by weight desc with the YAML sequence as the stable tiebreak
    * — a window PARTITIONED by claim, never global.
    */
  def routeClaims(claims: DataFrame): DataFrame = {
    val spark = claims.sparkSession
    import spark.implicits._
    // The claim relation feeds three legs (strategy join, keyword
    // interpolation, fallback anti-join) without CSE — deliberately NOT
    // materialized here: claims are metadata-scale and the legs run
    // concurrently inside one job, so an eager checkpoint's scheduling
    // barrier costs more than the duplicated derivation (bench-measured
    // +0.3 s at sf0.1). Callers with an EXPENSIVE claim derivation
    // should checkpoint before calling.
    val strat = broadcast(Strategies.toDF())
    val tmpl = broadcast(KeywordTemplates.toDF("category", "template"))
    val known = claims.join(strat, Seq("category"))
      .select(col("claim_id"), col("tool"), col("query"),
        col("weight"), col("seq"))
    val kw = claims.join(tmpl, Seq("category"))
      .filter(size(col("keywords")) > 0)
      .select(col("claim_id"), lit("search_hybrid").as("tool"),
        replace(col("template"), lit("{keywords}"),
          array_join(slice(col("keywords"), 1, 8), " ")).as("query"),
        lit(KeywordWeight).as("weight"), lit(100).as("seq"))
    val unknown = claims.join(strat.select("category").distinct(),
        Seq("category"), "left_anti")
    val fallback = unknown.select(col("claim_id"),
        lit("search_hybrid").as("tool"), col("normalized").as("query"),
        lit(FallbackWeights._1).as("weight"), lit(0).as("seq"))
      .unionByName(unknown.select(col("claim_id"),
        lit("search_code").as("tool"),
        when(size(col("keywords")) > 0,
          array_join(slice(col("keywords"), 1, 5), " "))
          .otherwise(col("normalized")).as("query"),
        lit(FallbackWeights._2).as("weight"), lit(1).as("seq")))
    val w = Window.partitionBy(col("claim_id"))
      .orderBy(col("weight").desc, col("seq"))
    known.unionByName(kw).unionByName(fallback)
      .withColumn("plan_rank", row_number().over(w))
      .drop("seq")
  }

  /** Noise-file predicate (`evidence_collector.py:30-66`
    * EVIDENCE_NOISE_PATTERNS): stylesheet/image/lockfile/sourcemap
    * extensions, generic ui/ components, test/spec files.
    */
  def isNoiseFile(path: Column): Column =
    path.rlike("\\.(css|scss|less|svg|png|jpg|jpeg|ico|lock|map)$") ||
      path.rlike("(^|/)(components/)?ui/[^/]+\\.(tsx|jsx)$") ||
      path.rlike("[^/]*\\.(test|spec)\\.[^/]*$")

  /** The DuckDB mirror of [[isNoiseFile]] for oracle gates. */
  def isNoiseFileSql(pathExpr: String): String =
    s"""(regexp_matches($pathExpr, '\\.(css|scss|less|svg|png|jpg|jpeg|ico|lock|map)$$')
       | OR regexp_matches($pathExpr, '(^|/)(components/)?ui/[^/]+\\.(tsx|jsx)$$')
       | OR regexp_matches($pathExpr, '[^/]*\\.(test|spec)\\.[^/]*$$'))""".stripMargin
      .replace("\n", "")

  /** Batched evidence collection: every routed plan scored against the
    * persisted BM25 index in ONE postings join — qtf per (claim, plan,
    * term), contribution sum per (claim, plan, chunk), top-k per plan via
    * a PARTITIONED window — then chunk metadata attached, noise files
    * dropped, snippets capped at 2000 chars (`_results_to_evidence`).
    *
    * `tokens` maps the plan's query string to its token array (pass the
    * corpus tokenizer so query and documents agree). The reference
    * dispatches each plan's `tool` to a different engine mode
    * (vector/hybrid/kg/smells); the single-query flavors of those live in
    * SearchEngine (Q6/Q8) and Kg — this batcher unifies evidence scoring
    * on the shared index, keeping `tool` as plan metadata.
    */
  def collectEvidence(plans: DataFrame, idx: Bm25.Bm25Index,
      chunkMeta: DataFrame, tokens: Column => Column, k: Int = 10): DataFrame = {
    val qterms = plans
      .select(col("claim_id"), col("plan_rank"), col("tool"), col("query"),
        explode(tokens(col("query"))).as("term"))
      .groupBy(col("claim_id"), col("plan_rank"), col("tool"), col("query"),
        col("term"))
      .agg(count(lit(1)).as("qtf"))
    val scored = idx.postings
      .join(qterms, Seq("term"))
      .join(idx.idf.hint("broadcast"), Seq("term"))
      .join(idx.docStats, Seq("id"))
      .crossJoin(broadcast(idx.corpus))
      .withColumn("contrib",
        col("qtf") * col("idf") * (col("tf") * (Bm25.K1 + 1)) /
          (col("tf") + lit(Bm25.K1) *
            (lit(1 - Bm25.B) + lit(Bm25.B) * col("dl") / col("avgdl"))))
      .groupBy(col("claim_id"), col("plan_rank"), col("tool"), col("query"),
        col("id"))
      .agg(sum(col("contrib")).as("score"))
    val w = Window.partitionBy(col("claim_id"), col("plan_rank"))
      .orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
      .join(chunkMeta, Seq("id"))
      .filter(!isNoiseFile(col("file_path")))
      .withColumn("snippet", substring(col("content"), 1, 2000))
      .drop("content")
  }

  final case class EvRow(claim_id: String, tool: String,
      query: String, id: Long, file_path: String, start_line: Int,
      end_line: Int, snippet: String, score: Double)

  /** Inclusive line-range overlap with the (0,0)-placeholder quirks of
    * `_ranges_overlap`: two placeholders overlap, a placeholder never
    * overlaps a real range.
    */
  private def rangesOverlap(aS: Int, aE: Int, bS: Int, bE: Int): Boolean =
    if (aS == 0 && aE == 0 && bS == 0 && bE == 0) true
    else if ((aS == 0 && aE == 0) || (bS == 0 && bE == 0)) false
    else aS <= bE && bS <= aE

  /** Evidence dedup (`_dedup_evidence`): exact (file, start, end) keeps
    * the best score, then a greedy score-descending pass per file drops
    * any range overlapping an already-kept higher-scored one. The greedy
    * pass is sequential WITHIN a (claim, file) group — bounded by
    * plans×k rows — and distributed ACROSS groups via flatMapGroups; the
    * Python version is the same greedy over one claim's full list, where
    * cross-file items never interact, so per-file grouping is exact.
    * Ordering adds (start, end, tool) tiebreaks so equal scores dedup
    * deterministically (Python inherits insertion order instead).
    */
  def dedupEvidence(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val exactW = Window
      .partitionBy(col("claim_id"), col("file_path"), col("start_line"),
        col("end_line"))
      .orderBy(col("score").desc, col("tool"), col("plan_rank"), col("id"))
    val exact = ev
      .withColumn("rk", row_number().over(exactW))
      .filter(col("rk") === 1)
      .select("claim_id", "tool", "query", "id", "file_path", "start_line",
        "end_line", "snippet", "score")
      .as[EvRow]
    exact
      .groupByKey(r => (r.claim_id, r.file_path))
      .flatMapGroups { (_: (String, String), it: Iterator[EvRow]) =>
        val sorted = it.toSeq.sortBy(r =>
          (-r.score, r.start_line, r.end_line, r.tool, r.id))
        val kept = scala.collection.mutable.ListBuffer.empty[EvRow]
        sorted.foreach { r =>
          if (!kept.exists(e => rangesOverlap(e.start_line, e.end_line,
            r.start_line, r.end_line))) kept += r
        }
        kept
      }
      .toDF()
  }

  /** Certification drift (`auditor/drift.py`): join each target's current
    * (policy_sha, head_commit) against its most recent certification and
    * classify — no prior cert, policy drift, code drift, or clean.
    */
  def drift(current: DataFrame, certs: DataFrame): DataFrame = {
    val latest = certs
      .groupBy(col("target"))
      .agg(max_by(struct(col("policy_sha"), col("head_commit")),
        col("cert_ts")).as("c"))
      .select(col("target"), col("c.policy_sha").as("cert_policy_sha"),
        col("c.head_commit").as("cert_head_commit"))
    current.join(latest, Seq("target"), "left")
      .withColumn("policy_changed",
        col("cert_policy_sha").isNotNull &&
          col("policy_sha") =!= col("cert_policy_sha"))
      .withColumn("code_changed",
        col("cert_head_commit").isNotNull &&
          col("head_commit") =!= col("cert_head_commit"))
      .withColumn("status",
        when(col("cert_policy_sha").isNull, "never_certified")
          .when(col("policy_changed") && col("code_changed"), "both_drifted")
          .when(col("policy_changed"), "policy_drifted")
          .when(col("code_changed"), "code_drifted")
          .otherwise("certified"))
  }
}
