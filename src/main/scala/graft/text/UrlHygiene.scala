package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Web-corpus URL hygiene: canonicalization, registered-domain
  * extraction, exact-URL dedup and per-domain document caps — the
  * ingest-side filters a crawl-derived corpus runs before any content
  * dedup. The reference operates on file paths rather than URLs, but its
  * ignore-pattern cascade (`config/defaults.py:356-451`) plays the same
  * role: normalize the identifier, then drop whole groups by a
  * deny-list before content ever loads.
  *
  * Canonicalization is the conservative common subset of the WHATWG URL
  * normalization rules that never changes which resource is addressed:
  *   - scheme folded to https (http/https treated as one resource)
  *   - host case-folded, default ports (:80/:443) stripped, leading
  *     `www.` stripped
  *   - fragment dropped (client-side only)
  *   - tracking query parameters dropped (`utm_*`, `fbclid`), the rest
  *     sorted so parameter order never splits a URL into two identities
  *   - trailing slash stripped from non-root paths; empty path becomes
  *     `/`; path CASE IS PRESERVED (paths are case-sensitive)
  *
  * 100 TB notes: every step is a codegen'd string expression — no UDFs,
  * no shuffle. The dedup and cap are single hash-partitioned windows on
  * `url_canon` / `domain`; domain caps are the classic skew guard (one
  * giant host cannot dominate a shard) and the blocklist is a tiny
  * literal/broadcast filter applied BEFORE the window so blocked domains
  * never shuffle.
  */
object UrlHygiene {

  /** Tracking parameters dropped during canonicalization. */
  val TrackingParamPattern = "^(utm_|fbclid)"

  /** Adds `host`, `url_canon` and registered `domain` columns derived
    * from `urlCol`. Pure projection — no shuffle.
    *
    * Only http/https URLs canonicalize (any scheme case): those two
    * genuinely address one resource, so folding them to https is safe.
    * Any other scheme (ftp://, data:, a bare path — crawl corpora carry
    * them all) passes through VERBATIM as its own identity: host is
    * empty, `url_canon` = the original string, `domain` = host. A host
    * with fewer than two labels (`localhost`, a bare IPv4 octet-less
    * name) keeps the whole host as its registered domain — under ANSI
    * mode an unguarded element_at(labels, -2) would throw on exactly
    * the messy inputs this operator exists to screen.
    */
  def canonicalize(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val hostport = regexp_extract(u, "(?i)^https?://([^/?#]+)", 1)
    val host = regexp_replace(
      lower(regexp_replace(hostport, ":(80|443)$", "")), "^www\\.", "")
    val path0 = regexp_extract(u, "(?i)^https?://[^/?#]+([^?#]*)", 1)
    val cpath = when(path0 === "", lit("/"))
      .when(length(path0) > 1 && path0.endsWith("/"),
        path0.substr(lit(1), length(path0) - 1))
      .otherwise(path0)
    val qs = regexp_extract(u, "\\?([^#]*)", 1)
    val cq = array_join(
      array_sort(filter(split(qs, "&"),
        x => x =!= "" && !x.rlike(TrackingParamPattern))), "&")
    val labels = split(regexp_replace(host, ":\\d+$", ""), "\\.")
    df.withColumn("host", host)
      .withColumn("url_canon",
        when(col("host") === "", u).otherwise(concat(
          lit("https://"), col("host"), cpath,
          when(cq === "", lit("")).otherwise(concat(lit("?"), cq)))))
      .withColumn("domain",
        when(size(labels) >= 2, concat(
            element_at(labels, -2), lit("."), element_at(labels, -1)))
          .otherwise(col("host")))
  }

  /** Keeps one row per `url_canon` — the smallest id (first-crawled
    * wins, the stable arbitrary-winner rule). One hash-partitioned
    * window; no global ordering anywhere.
    */
  def dedupByUrl(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url_canon").orderBy(col(idCol))
    df.withColumn("dup_rk", row_number().over(w))
      .filter(col("dup_rk") === 1).drop("dup_rk")
  }

  /** Drops blocklisted registered domains, then keeps at most `cap`
    * rows per domain ranked by `orderCol` DESC (id ASC tiebreak).
    * Adds `dom_rank` and the pre-cap `domain_urls` count.
    */
  def domainCap(df: DataFrame, cap: Int, blocklist: Seq[String],
      orderCol: String = "n_chars", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allowed =
      if (blocklist.isEmpty) df else df.filter(!col("domain").isin(blocklist: _*))
    val w = Window.partitionBy("domain")
      .orderBy(col(orderCol).desc, col(idCol))
    val wc = Window.partitionBy("domain")
    allowed
      .withColumn("dom_rank", row_number().over(w))
      .withColumn("domain_urls", count(lit(1)).over(wc))
      .filter(col("dom_rank") <= cap)
  }
}
