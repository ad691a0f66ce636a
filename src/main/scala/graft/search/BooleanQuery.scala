package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Boolean set retrieval (must / should / must-not) over an inverted
  * postings relation — the unranked filter mode beside BM25 ranking
  * ([[Bm25]]) and positional phrase search ([[Phrase]]): "docs with ALL
  * of these terms, ANY of those, NONE of the others" is the classic
  * pre-filter a retrieval stack applies before scoring, and the exact
  * semantics of metadata term filters.
  *
  * Scale shape: every clause starts from `postings WHERE term IN (...)`
  * — a pushdown-filtered scan of the term-partitioned postings index
  * (never a corpus scan); the ALL clause is one groupBy-count over the
  * filtered postings; ANY is a semi-join, NONE an anti-join, all
  * hash-partitioned by doc id. Query terms are literals in the plan.
  */
object BooleanQuery {

  /** Distinct (doc_id, term) postings, projected from the positional
    * ones ([[Phrase.positionalPostings]]) that phrase and proximity
    * search read: one tokenization serves every keyword mode.
    */
  def fromPositional(positional: DataFrame): DataFrame =
    positional.select(col("id").as("doc_id"), col("term")).distinct()

  /** Doc ids satisfying: contains ALL `must`, at least one of `should`
    * (skipped when empty), and none of `mustNot`.
    */
  def query(p: DataFrame, must: Seq[String], should: Seq[String],
      mustNot: Seq[String]): DataFrame = {
    // dedupe the ALL clause: postings are per distinct (doc, term), so a
    // repeated must term would make countDistinct unreachable
    val mustD = must.distinct
    var docs: DataFrame =
      if (mustD.nonEmpty)
        p.filter(col("term").isin(mustD: _*))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("term")).as("_nt"))
          .filter(col("_nt") === mustD.size)
          .select("doc_id")
      else p.select("doc_id").distinct()
    if (should.nonEmpty)
      docs = docs.join(
        p.filter(col("term").isin(should: _*)).select("doc_id"),
        Seq("doc_id"), "left_semi")
    if (mustNot.nonEmpty)
      docs = docs.join(
        p.filter(col("term").isin(mustNot: _*)).select("doc_id"),
        Seq("doc_id"), "left_anti")
    docs
  }

  /** Prefix autocomplete over the postings vocabulary: top-k terms by
    * document frequency (ties on the term) within each `prefixLen`-char
    * prefix — the edge-ngram completion index, derived from the same
    * postings relation. Output: (prefix, term, df, rank).
    */
  def completions(p: DataFrame, prefixLen: Int, k: Int): DataFrame = {
    val df = p.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
      .filter(length(col("term")) >= prefixLen)
      .withColumn("prefix", substring(col("term"), 1, prefixLen))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix"))
      .orderBy(col("df").desc, col("term"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("term"), col("df"), col("rank"))
  }
}
