package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.text.TextFunctions

/** Repeated-substring span coverage at token n-gram granularity — the
  * detection half of suffix-array substring dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499): an n-gram that occurs more than once ANYWHERE in
  * the corpus (across docs or repeated within one doc) marks all n of
  * its token positions as duplicated text; per document we report the
  * exact number of token positions covered by at least one duplicated
  * n-gram (the interval union of the hit windows) and the covered
  * fraction — the score a pipeline thresholds to drop or trim
  * boilerplate-heavy documents.
  *
  * Scale: one posexplode pass (×(len−n+1) rows, same asymptotics as
  * every shingle pass in `Dedup`), a map-side-combined groupBy on the
  * 60-bit gram hash, an equi-join back on the same key, and the
  * interval union as a SINGLE window PARTITIONED by doc (positions are
  * unique per doc, so the running-max-end ordering is deterministic).
  * No pair-finding at all — cost is linear in corpus token count, which
  * is what makes this the 100 TB alternative to a literal suffix array.
  *
  * The window hash NEVER materializes the gram string: each token is
  * md5-hashed ONCE (`hash60("tok", t)`), and every n-token window
  * folds those hashes with `PortableHash.windowHash60` (rotate-xor,
  * pure bitwise codegen). The previous shape — `concat_ws` over a
  * token slice, then md5, per window — allocated an n-token string +
  * hex chain per window and exhibited a bimodal GC-bound slow mode at
  * stress scale (round-9 verdict: x30 4.8 s fast / 22–27 s slow);
  * AllocAuditSpec pins the no-gram-string plan shape.
  */
object SpanDedup {

  /** (doc_id, pos, g): one row per n-gram window, g = rotate-xor fold
    * of the per-token hashes. `base` must carry `doc_id`, `toks`,
    * `n_tokens`.
    */
  private def occurrences(base: DataFrame, n: Int): DataFrame =
    base.filter(col("n_tokens") >= n)
      .select(col("doc_id"),
        posexplode(PortableHash.tokenWindowHashes(col("toks"), n)))
      .select(col("doc_id"), col("pos"), col("col").as("g"))

  /** One row per input doc: `doc_id`, `n_tokens`, `dup_positions`
    * (tokens covered by duplicated n-grams), `dup_fraction` (rounded
    * to 6; 0.0 for docs shorter than n tokens).
    *
    * Plan shape: docs shorter than n tokens emit one sentinel row with
    * a doc-unique gram (hash of the doc id with bit 62 set — real
    * window hashes live in [0, 2^60), so a sentinel can never match
    * one, occurs once per doc, and needs no arithmetic on the id
    * column, so string ids work; two short docs colliding is the same
    * 2^-60 birthday class as the gram hashes themselves), which keeps
    * every doc in the stream and removes
    * the old join-back to the tokenized base (a third tokenizer
    * evaluation). The occurrence scan still evaluates twice — the
    * dup-gram aggregate and the probe side of the dup join (Catalyst
    * does not CSE across join sides, and column pruning specializes
    * each side's subtree past exchange reuse) — and that is the RIGHT
    * trade at 100 TB: the scan is one fused codegen pass
    * (graft_normalize + graft_window_hashes) over the columnar source,
    * while caching the exploded occurrence table would spill
    * corpus×windows bytes to disk for one extra read. A deployment
    * that probes repeatedly persists the occurrence table once
    * (bucketed by g, like the dedup index) — the same split as the d3
    * shingle flow. The gram aggregate keeps its map-side partial
    * combine (AllocAuditSpec pins it below the exchange).
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    // (doc, n_tokens, 0-based start pos, gram hash) — one row per
    // window; one sentinel row per short doc
    val occ = base
      .select(col("doc_id"), col("n_tokens"),
        posexplode(
          when(col("n_tokens") >= n,
            PortableHash.tokenWindowHashes(col("toks"), n))
          .otherwise(array(PortableHash.hash60(lit("sdshort"),
            col("doc_id").cast("string")).bitwiseOR(lit(1L << 62))))))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        col("col").as("g"))
    val dupGrams = occ.groupBy(col("g"))
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
      .select(col("g"), lit(true).as("dup"))
    // interval union per doc: contribution of window [pos, pos+n) is
    // its length minus the overlap with the running max end so far;
    // non-dup rows ride along with e = null (max ignores nulls) so the
    // per-doc aggregate sees every doc without a join back
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    occ.join(dupGrams, Seq("g"), "left")
      .withColumn("e", when(col("dup"), col("pos") + n))
      .withColumn("pe", max(col("e")).over(w))
      .withColumn("inc",
        when(col("dup"),
          greatest(lit(0), col("e") -
            greatest(col("pos"), coalesce(col("pe"), col("pos")))))
        .otherwise(lit(0)))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(col("inc")).cast("long").as("dup_positions"))
      .withColumn("dup_fraction",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("dup_positions") / col("n_tokens"), 6)))
      .select(col("doc_id"), col("n_tokens"), col("dup_positions"),
        col("dup_fraction"))
  }

  /** The REMOVAL half of substring dedup (Lee et al. 2022 §3): cut
    * every token covered by a corpus-duplicated n-gram out of the text.
    * Output: `doc_id`, `n_tokens`, `n_removed`, `clean_text` (kept
    * tokens re-joined in order; "" when everything was duplicated).
    *
    * Per-token coverage WITHOUT a range join or a ×n explode: window
    * starts and token positions merge into one event stream per doc
    * (windows sort before the tokens they cover), and a token at p is
    * covered iff the running max of window ends over events ≤ p
    * exceeds p — the same doc-partitioned single-window shape as the
    * coverage metric, linear in corpus tokens.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    val occ = occurrences(base, n)
    val dupGrams = occ.groupBy(col("g"))
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
      .select(col("g"))
    // event stream: kind 0 = dup-window start (carries end), kind 1 =
    // token (carries its text); windows at pos p sort before token p
    val winEvents = occ.join(dupGrams, Seq("g"))
      .select(col("doc_id"), col("pos"), lit(0).as("kind"),
        (col("pos") + n).as("e"), lit(null).cast("string").as("tok"))
    val tokEvents = base
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), lit(1).as("kind"),
        lit(null).cast("int").as("e"), col("tok"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val marked = winEvents.unionByName(tokEvents)
      .withColumn("cover_end", max(col("e")).over(w))
      .filter(col("kind") === 1)
      .withColumn("covered",
        coalesce(col("cover_end") > col("pos"), lit(false)))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("covered"), 1).otherwise(0)).cast("int")
          .as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(!col("covered"), struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
  }
}
